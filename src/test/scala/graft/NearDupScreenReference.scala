package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IndexFs}
import graft.plans.TopKPerGroup

/** The lazy, one-plan form of the stored near-dup screen that
  * [[graft.ext.Dedup.screenAgainstNearDupIndex]] computes eagerly: the
  * tables read with plain schema inference, tombstones anti-joined as a
  * distinct set, the batch's capped shingle set and the exact flag built
  * as Spark frames, and the verdict joined in the plan. Likewise the
  * append before its per-doc set. `NearDupScreenEquivalenceSpec` checks
  * the production verbs against both.
  */
object NearDupScreenReference {

  def screen(incoming: DataFrame, indexDir: String, n: Int = 3,
      minJaccard: Double = 0.8): DataFrame = {
    val spark = incoming.sparkSession
    def read(t: String): DataFrame = {
      val df = spark.read.parquet(s"$indexDir/$t")
      val del = s"$indexDir/deletes"
      if (IndexFs.exists(spark, del))
        df.join(broadcast(spark.read.parquet(del).distinct()), Seq("doc_id"), "left_anti")
      else df
    }
    val exHash = read("hashes").select(col("h")).distinct()
      .withColumn("ex", lit(true))
    val exactFlag = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(exHash, Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("ex"), lit(false)).as("is_exact_dup"))
    val hot = spark.read.parquet(s"$indexDir/hot")
    val inSh = Dedup.hashedShingleSet(incoming, n).join(broadcast(hot), Seq("sh"), "left_anti")
    val exSh = read("shingles")
    val exSizes = read("sizes").withColumnRenamed("doc_id", "ex_doc")
    val inSizes = inSh.groupBy("doc_id").agg(count(lit(1)).as("n_in"))
    val inter = inSh
      .join(exSh.withColumnRenamed("doc_id", "ex_doc"), Seq("sh"))
      .groupBy(col("doc_id"), col("ex_doc"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter.join(inSizes, Seq("doc_id")).join(exSizes, Seq("ex_doc"))
      .select(col("doc_id"), col("ex_doc"),
        round(col("inter").cast("double") / (col("n_in") + col("n_ex") - col("inter")), 6)
          .as("jac"))
      .filter(col("jac") >= minJaccard)
    val best = TopKPerGroup.topK(scored, Seq("doc_id"),
        Seq("jac" -> TopKPerGroup.Desc, "ex_doc" -> TopKPerGroup.Asc), 1)
      .select(col("doc_id"), col("ex_doc").as("near_dup_of"),
        col("jac").as("near_jaccard"))
    exactFlag.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        col("near_dup_of"), col("near_jaccard"),
        when(col("is_exact_dup"), lit("drop_exact"))
          .when(col("near_dup_of").isNotNull, lit("drop_near"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** The append the production one replaced: the capped shingle set as
    * one frame written twice (`shingles`, then its per-doc counts as
    * `sizes`), each table repartitioned to one file. */
  def append(batch: DataFrame, indexDir: String, n: Int = 3): Unit = {
    val spark = batch.sparkSession
    val hot = spark.read.parquet(s"$indexDir/hot")
    val capped = Dedup.hashedShingleSet(batch, n).join(broadcast(hot), Seq("sh"), "left_anti")
    capped.repartition(1).write.mode("append").parquet(s"$indexDir/shingles")
    capped.groupBy("doc_id").agg(count(lit(1)).as("n_ex"))
      .repartition(1).write.mode("append").parquet(s"$indexDir/sizes")
    batch.select(col("doc_id"), md5(col("text")).as("h")).distinct()
      .repartition(1).write.mode("append").parquet(s"$indexDir/hashes")
  }
}
