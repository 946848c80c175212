package graft

/** Resolution anchor for the repo-root JSON artifacts (BENCH_FLOORS,
  * SCALE_PROBES): `sbt` runs with cwd = the repo, but that is an
  * assumption, not a contract — a bench launched from another directory
  * would silently write the artifacts elsewhere while the `target/`
  * history kept merging, leaving the committed copies stale (the r11
  * advisor finding). Anchor against the artifact base's parent instead:
  * the default base is `<repo>/target`, and a relocated
  * `SPARK_GRAFT_ARTIFACT_DIR` deployment keeps the floors next to the
  * history it summarizes — the two files move together or not at all.
  */
object RepoRoot {
  def resolve(fileName: String): java.nio.file.Path = {
    val base = java.nio.file.Paths.get(graft.build.Artifact.base)
      .toAbsolutePath
    Option(base.getParent).getOrElse(base).resolve(fileName)
  }
}
