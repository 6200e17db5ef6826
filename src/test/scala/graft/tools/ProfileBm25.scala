package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B profile for the BM25 retrieval pair: the direct one-shot
  * bm25TopK (rescans the corpus per query) vs bm25TopKIndexed over a
  * PERSISTED termPostings parquet landed partitioned by term (each
  * query reads only its terms' posting lists — the q92 pushdown
  * contract). Runs `queries` distinct 2-term queries through each
  * path, median-of-3 wall per batch. Run:
  * `sbt "Test/runMain graft.tools.ProfileBm25 [sfDir] [queries]"`.
  */
object ProfileBm25 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.TextAnalysis._

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    docs.persist().count() // isolate retrieval cost from the file read

    // query terms drawn from the corpus's own frequent vocabulary so
    // every query has real matches
    val vocab = docs
      .select(explode(graft.functions.TextFunctions.wsTokens(
        lower(col("text")))).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t"))
      .limit(2 * nQueries + 4)
      .collect().map(_.getString(0)).distinct.toSeq
    val queries = (0 until nQueries).map(i =>
      Seq(vocab(2 * i), vocab(2 * i + 1)).distinct)

    val idxDir = graft.TempDirs.create("graft_bm25_ab").toString
    termPostings(docs, "doc_id", "text")
      .write.mode("overwrite").partitionBy("term").parquet(idxDir)
    val stats = corpusStats(docs, "doc_id", "text")
    stats.persist().count()
    val postings = spark.read.parquet(idxDir)

    def median(f: => Unit): (Double, Seq[Double]) = {
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (samples(1), samples)
    }

    val (direct, dr) = median {
      queries.foreach(q => bm25TopK(docs, "doc_id", "text", q, k = 10).collect())
    }
    val (indexed, ir) = median {
      queries.foreach(q => bm25TopKIndexed(postings, stats, q, k = 10).collect())
    }
    println(f"direct  bm25TopK        ($nQueries queries): $direct%7.3f s  (runs: ${dr.map(s => f"$s%.2f").mkString(", ")})")
    println(f"indexed bm25TopKIndexed ($nQueries queries): $indexed%7.3f s  (runs: ${ir.map(s => f"$s%.2f").mkString(", ")})")
    println(f"speedup: ${direct / indexed}%.2f x")
    spark.stop()
  }
}
