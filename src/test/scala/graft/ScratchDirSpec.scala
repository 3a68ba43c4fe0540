package graft

/** Query stagings live under the JVM's temp dir, so a run that points
  * `java.io.tmpdir` at a work dir and deletes it leaves nothing behind.
  */
class ScratchDirSpec extends SparkSpec {

  test("s8_partitioned_roundtrip stages its layout under java.io.tmpdir") {
    val tmp = tempDir("graft_tmpdir_spec")
    withTmpDir(tmp) {
      SparkEntry.queries("s8_partitioned_roundtrip")(spark, sf0001).collect()
    }
    val staged = tmp.toFile.list().filter(_.startsWith("graft_layout_"))
    assert(staged.nonEmpty,
      s"no graft_layout_ staging under $tmp: ${tmp.toFile.list().toSeq}")
  }
}
