package graft.tools

/** Shared local-filesystem helpers for the engine's staging/state dirs
  * (the replay stagers and the stored-state sessionizer each deleted
  * trees with their own copy of this loop).
  */
object LocalFs {

  /** Recursive delete of a local directory tree; quietly no-ops on a
    * missing path (callers delete-then-recreate staging dirs).
    */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** The live root of each (applicationId, tag). */
  private val scratchPrev =
    scala.collection.concurrent.TrieMap.empty[(String, String), java.io.File]
  private val scratchApps = scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** A fresh, empty per-invocation root
    * `graft_<tag>_<applicationId>_<seq>` under `java.io.tmpdir`. Repeat
    * runs of a stateful entry must re-exercise the whole lifecycle, so
    * each call gets a new root and the previous root of the same tag is
    * deleted; when the application ends, its last roots go too
    * ([[endApplication]]). The applicationId keeps a new JVM, whose
    * sequence restarts at 1, from reusing an older JVM's root as
    * leftover state; the defensive delete covers even an applicationId
    * collision.
    */
  def scratchRoot(spark: org.apache.spark.sql.SparkSession,
      tag: String): java.io.File = {
    val app = spark.sparkContext.applicationId
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${app}_${scratchSeq.incrementAndGet()}")
    if (scratchApps.putIfAbsent(app, ()).isEmpty)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          endApplication(app)
      })
    scratchPrev.put((app, tag), root).foreach(deleteRecursively)
    deleteRecursively(root)
    root.mkdirs()
    root
  }

  /** Delete the scratch roots application `app` still holds; called when
    * it ends. Other applications' roots are left alone. */
  private[graft] def endApplication(app: String): Unit =
    scratchPrev.keys.filter(_._1 == app).foreach(k =>
      scratchPrev.remove(k).foreach(deleteRecursively))
}
