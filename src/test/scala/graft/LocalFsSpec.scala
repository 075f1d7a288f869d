package graft

import java.nio.file.Files

import graft.tools.LocalFs

/** `LocalFs.scratchRoot`: each call gets a fresh, empty root, the
  * previous root of the same tag is deleted, other tags' roots are
  * left alone, and the name carries the session's applicationId.
  */
class LocalFsSpec extends SparkSpec {

  private def fill(root: java.io.File): Unit = {
    val f = new java.io.File(root, "state/part-0")
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, "leftover")
  }

  test("a second root of one tag deletes the first and starts empty") {
    val first = LocalFs.scratchRoot(spark, "spec_same")
    fill(first)
    val second = LocalFs.scratchRoot(spark, "spec_same")
    assert(second != first)
    assert(!first.exists())
    assert(second.isDirectory)
    assert(second.list().isEmpty)
    LocalFs.deleteRecursively(second)
  }

  test("a root of another tag is untouched") {
    val other = LocalFs.scratchRoot(spark, "spec_other")
    fill(other)
    val mine = LocalFs.scratchRoot(spark, "spec_mine")
    LocalFs.scratchRoot(spark, "spec_mine")
    assert(!mine.exists())
    assert(new java.io.File(other, "state/part-0").isFile)
    LocalFs.deleteRecursively(other)
  }

  test("the root's name carries the tag and the session's applicationId") {
    val root = LocalFs.scratchRoot(spark, "spec_name")
    val appId = spark.sparkContext.applicationId
    assert(root.getName.startsWith(s"graft_spec_name_${appId}_"))
    assert(root.getParentFile == new java.io.File(System.getProperty("java.io.tmpdir")))
    LocalFs.deleteRecursively(root)
  }
}
