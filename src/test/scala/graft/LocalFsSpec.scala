package graft

import java.nio.file.Files

import graft.tools.LocalFs

/** `LocalFs.scratchRoot`: each call gets a fresh, empty root, the
  * previous root of the same tag is deleted, other tags' roots are
  * left alone, the name carries the session's applicationId, and an
  * ended application's roots are deleted.
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

  test("an ended application's roots are deleted; another application's are untouched") {
    val app = spark.sparkContext.applicationId
    val mine = Seq("spec_end_a", "spec_end_b").map(LocalFs.scratchRoot(spark, _))
    mine.foreach(fill)
    // a root another application (another JVM) left under the same tag
    val other = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_spec_end_a_${app}-other_1")
    fill(other)
    LocalFs.endApplication(app)
    assert(mine.forall(!_.exists()), "the ended application's roots are gone")
    assert(new java.io.File(other, "state/part-0").isFile,
      "another application's root is untouched")
    LocalFs.deleteRecursively(other)
  }
}
