package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}

/** The `curate` verb's stages, each driven through its public operator
  * entry point and timed as one span, on a fresh input directory.
  * Every stage ends in an action, so its span covers the work rather than
  * the plan. The dedup stage also counts c2's verified candidate pairs,
  * which the verb itself never materializes. */
object CurateStages {

  def run(spark: SparkSession, args: Array[String]): Map[String, Double] = {
    def opt(name: String): String = {
      val i = args.indexOf(name)
      require(i >= 0 && i + 1 < args.length, s"$name required")
      args(i + 1)
    }
    val in = opt("--in")
    val evalPath = opt("--eval")
    val out = opt("--out")
    val threshold = 0.5
    val docs = graft.Tables.documents(spark, in)

    val quality = Trace.timed("quality") {
      val q = TextOps.c7TextQuality(spark, in).filter(col("keep"))
        .select("doc_id").persist()
      q.count()
      q
    }
    val (candidates, atThreshold, survivors) = Trace.timed("dedup") {
      val pairs = Dedup.c2DedupMinhash(spark, in).persist()
      val c = pairs.count()
      val t = pairs.filter(col("jaccard") >= threshold).count()
      pairs.unpersist()
      val kept = Dedup.dedupDocuments(spark, in, "minhash", threshold)
        .select("doc_id").persist()
      kept.count()
      (c, t, kept)
    }
    val clean = Trace.timed("decontam") {
      val evalDocs = spark.read.parquet(evalPath).select("doc_id", "text")
      val c = TextOps.decontaminate(docs.select("doc_id", "text"), evalDocs)
        .filter(!col("contaminated")).select("doc_id").persist()
      c.count()
      c
    }
    val splits = Trace.timed("split") {
      val s = Dedup.c30ClusterSplit(spark, in, threshold)
        .select("doc_id", "split").persist()
      s.count()
      s
    }
    val written = Trace.timed("write") {
      docs.join(quality, Seq("doc_id"), "left_semi")
        .join(survivors, Seq("doc_id"), "left_semi")
        .join(clean, Seq("doc_id"), "left_semi")
        .join(splits, "doc_id")
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out).count()
    }
    Map("candidate_pairs" -> candidates.toDouble,
      "pairs_at_threshold" -> atThreshold.toDouble,
      "curated" -> written.toDouble)
  }
}
