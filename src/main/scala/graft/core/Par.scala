package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive scan widening for CPU-bound per-row derivations.
  *
  * Spark sizes scan partitions by BYTES (`maxPartitionBytes` /
  * `openCostInBytes`), which is right when the cost of a task is the
  * bytes it reads — and wrong for operators whose per-row work dwarfs
  * the scan: gram explodes (K-fold char blowup), winnow fingerprints
  * (a hash chain per character), codebook scoring (K dots per vector).
  * On a small-file corpus those scans pack into one or two partitions
  * and the whole derivation serializes on as many cores (measured,
  * r19 job profile at sf0.1/32 cores (now `graft.Measure profile`): q149's winnow pass 3.4 s on ONE
  * task, q188's √N-codebook assignment 9.2 s on ONE task, q192's gram
  * distinct 4.2+4.7 s on one task — while 31 cores idled).
  *
  * [[widen]] repartitions to the session's default parallelism ONLY
  * when the relation's planned partitioning is narrower — the same
  * cure as [[graft.operators.MediaQueries]]'s unconditional `spread`
  * (its 9.5 → 1.9 s measurement), made safe to put on corpus-sized
  * relations: at the 100 TB point the scan is already thousands of
  * splits wide and this is the identity, so no full-corpus shuffle is
  * ever introduced where the scan alone saturates the cluster. The
  * round-robin exchange this inserts locally is narrow (the relation's
  * projected columns only) and deterministic under retry (Spark sorts
  * before round-robin partitioning, SPARK-23207). Filters composed on
  * top still reach the parquet scan: the optimizer pushes predicates
  * through `Repartition` (PushDownPredicates), pinned by
  * PlanShapeSpec's PushedFilters checks on the widened families.
  *
  * With `keys`, the exchange hash-partitions by them instead of
  * round-robin: a downstream aggregate or join on the same keys then
  * plans no exchange of its own (the near-dup tier's per-document set
  * union rides the widen).
  */
object Par {
  def widen(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

}
