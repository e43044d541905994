package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derive a larger scale factor from an existing testdata dir by k-way
  * replication with id remapping — the empirical point above sf0.1 the
  * scale claims in SCALE.md rest on.
  *
  * Replication preserves the PER-COPY statistical structure instead of
  * multiplying it: copy c's ids shift by c·[[Stride]], and copy c>0's
  * document tokens get a `·c` suffix so its shingle/vocab space is
  * DISJOINT from every other copy's. Without that, identical texts
  * across copies would pair near-dups quadratically in k (every clone
  * family of size m becomes one of size k·m → k²·m² pairs) and the
  * "10× data" run would measure a different problem. With it, a k×
  * corpus has exactly k× the near-dup pairs, k× the shingles, k× the
  * graph edges — so a banded/bucketed operator should scale ~linearly
  * and any super-linear wall-clock growth is a real plan problem, not a
  * fixture artifact. (Embeddings keep their vectors verbatim: ANN
  * throughput depends on candidate counts, not vector identity.)
  *
  * Usage: `runMain graft.ScaleUp [srcDir] [dstDir] [copies]`
  * (defaults: /root/testdata/sf0.1 → /tmp/graft_sf1 × 10). Only the
  * tables the scale headliners read (documents, embeddings, lineitem)
  * are derived.
  */
object ScaleUp {
  private val Stride = 10000000L

  private def replicate(df: DataFrame, copies: Int): DataFrame =
    df.withColumn("__c", explode(array((0 until copies).map(lit): _*)))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt, src).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.core.Tables(spark, src, "documents")
    replicate(docs, copies)
      .select(
        (col("doc_id") + col("__c") * Stride).as("doc_id"),
        // copy 0 pristine; copies 1+ get disjoint vocab via a token suffix
        when(col("__c") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("·"), col("__c"))), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = graft.core.Tables(spark, src, "embeddings")
    replicate(emb, copies)
      .select((col("vec_id") + col("__c") * Stride).as("vec_id"),
        col("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    val li = graft.core.Tables(spark, src, "lineitem")
    val remapped = li.columns.map {
      case "l_orderkey" => (col("l_orderkey") + col("__c") * Stride).as("l_orderkey")
      case "l_partkey" => (col("l_partkey") + col("__c") * Stride).as("l_partkey")
      case c => col(c)
    }
    replicate(li, copies)
      .select(remapped.toSeq: _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    println(s"""{"scaled":"$src -> $dst","copies":$copies}""")
    spark.stop()
  }
}
