package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** The extensions entry point must make `vector_dot` a first-class SQL
  * function in a fresh session — resolvable by name, codegen'd, and
  * numerically identical to the Scala-API path. Uses its own
  * SparkSession (extensions bind at session build time).
  */
class GraftExtensionsSpec extends AnyFunSuite {

  // create(), not getOrCreate(): a session built by an earlier suite
  // would be silently reused and the extensions never applied. The new
  // session shares any existing SparkContext, so it is NOT stopped here
  // (stop() would kill the context under the other suites). Injection
  // goes through withExtensions — the string conf
  // `spark.sql.extensions=graft.plans.GraftExtensions` is STATIC and
  // only applies when it reaches a NEW SparkContext (spark-submit
  // --conf), so in a shared-context test JVM it would silently no-op.
  // Built by GraftSession like the shared session: if this suite
  // compiles first, its confs size the JVM-wide codegen cache.
  private lazy val spark = GraftSession.builder("local[2]", 2)
    .withExtensions(new GraftExtensions)
    .create()

  test("vector_dot resolves from plain SQL and computes the dot product") {
    val got = spark.sql(
      "SELECT vector_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(got == 32.0)
  }

  test("vector_dot in SQL agrees with the Scala Column API on real data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(0.5, -1.0, 2.0), Seq(1.0, 1.0, 1.0))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT vector_dot(a, b) AS d FROM vecs").head().getDouble(0)
    val viaApi = df.select(VectorExpressions.vectorDot(col("a"), col("b")).as("d"))
      .head().getDouble(0)
    assert(viaSql == viaApi && viaSql == 1.5)
  }

  test("null propagation matches built-in semantics") {
    val row = spark.sql("SELECT vector_dot(NULL, array(1.0d)) AS d").head()
    assert(row.isNullAt(0))
    // length mismatch and null elements poison the product exactly like
    // the composed zip_with+aggregate form
    assert(spark.sql("SELECT vector_dot(array(1.0d), array(1.0d, 2.0d)) AS d").head().isNullAt(0))
    assert(spark.sql(
      "SELECT vector_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS d")
      .head().isNullAt(0))
  }

  test("the optimizer rewrites the composable aggregate(zip_with) idiom to the native kernel") {
    // parquet-backed input: a local relation would be constant-folded
    // into a LocalTableScan and hide whether the rule fired
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS a")
      .createOrReplaceTempView("emb_ext")
    val composed = spark.sql(
      """SELECT vec_id, aggregate(zip_with(a, a, (x, y) -> x * y), CAST(0.0 AS DOUBLE),
        |                 (acc, e) -> acc + e) AS d FROM emb_ext""".stripMargin)
    val plan = composed.queryExecution.executedPlan.toString()
    assert(plan.contains("vector_dot"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("zip_with"), s"composed form survived:\n$plan")
    // numeric ground truth computed driver-side from the raw row
    val first = composed.orderBy("vec_id").head()
    val raw = spark.sql("SELECT a FROM emb_ext ORDER BY vec_id").head().getSeq[Double](0)
    assert(first.getDouble(1) == raw.map(x => x * x).sum)
  }

  test("the rewrite preserves the composed form's null semantics") {
    // unequal lengths → zip_with pads with null → null sum; the rewritten
    // kernel must agree
    val row = spark.sql(
      """SELECT aggregate(zip_with(array(1.0d), array(1.0d, 2.0d), (x, y) -> x * y),
        |                 CAST(0.0 AS DOUBLE), (acc, e) -> acc + e) AS d""".stripMargin)
      .head()
    assert(row.isNullAt(0))
  }

  test("heavy_hitters resolves from plain SQL with literal capacity/k") {
    import spark.implicits._
    Seq("a", "a", "a", "b", "b", "c").toDF("w").createOrReplaceTempView("words_ext")
    val rows = spark.sql(
      "SELECT inline(heavy_hitters(w, 16, 2)) FROM words_ext")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a", 3L), ("b", 2L)))
    val err = intercept[Exception] {
      spark.sql("SELECT heavy_hitters(w, w, 2) FROM words_ext").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("cms_sketch / cms_estimate resolve from plain SQL and close the loop") {
    import spark.implicits._
    Seq("a", "a", "a", "b", "b", "c").toDF("w").createOrReplaceTempView("cms_ext")
    val est = spark.sql(
      """SELECT cms_estimate(sk, 'a', 4, 64) AS ea, cms_estimate(sk, 'zz', 4, 64) AS ez
        |FROM (SELECT cms_sketch(w, 4, 64) AS sk FROM cms_ext)""".stripMargin)
      .head()
    // tiny vocab, width 64 → exact regime; unseen key estimates 0
    assert(est.getLong(0) == 3L && est.getLong(1) == 0L, est.toString)
    val err = intercept[Exception] {
      spark.sql("SELECT cms_sketch(w, w, 64) FROM cms_ext").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("bloom_build resolves from plain SQL and probes with built-in might_contain") {
    import spark.implicits._
    (1L to 100L).toDF("v").createOrReplaceTempView("bloom_src")
    // build in SQL, probe in SQL — the full loop without the Scala API
    // 0.03 parses as a DECIMAL literal — the registration must accept it
    val hits = spark.sql(
      """WITH idx AS (SELECT bloom_build(v, 100, 0.03) AS bf FROM bloom_src)
        |SELECT sum(CASE WHEN might_contain((SELECT bf FROM idx), p.v) THEN 1 ELSE 0 END) AS seen,
        |       sum(CASE WHEN might_contain((SELECT bf FROM idx), p.v + 100000) THEN 1 ELSE 0 END) AS unseen_hits
        |FROM bloom_src p""".stripMargin).head()
    assert(hits.getLong(0) == 100L, "no false negatives via SQL")
    assert(hits.getLong(1) < 50L, "unseen values must mostly miss")
    val err = intercept[Exception] {
      spark.sql("SELECT bloom_build(v, v) FROM bloom_src").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("the rewrite leaves non-dot aggregate(zip_with) shapes untouched") {
    // max-combine instead of a sum — must NOT become vector_dot
    // (parquet-backed for the same constant-folding reason as above)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("CAST(embedding AS array<double>) AS a")
      .createOrReplaceTempView("emb_ext2")
    val df = spark.sql(
      """SELECT aggregate(zip_with(a, a, (x, y) -> x * y),
        |                 CAST(0.0 AS DOUBLE), (acc, e) -> greatest(acc, e)) AS d
        |FROM emb_ext2""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("vector_dot"), s"over-eager rewrite:\n$plan")
    assert(df.head().getDouble(0) >= 0.0)
  }

  test("simhash_fold resolves from plain SQL and matches the Scala path") {
    val sql =
      """SELECT simhash_fold(transform(split('alpha beta gamma', ' '),
        |                           t -> xxhash64(t))) AS fp""".stripMargin
    val viaSql = spark.sql(sql).head().getLong(0)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val viaApi = Seq("alpha beta gamma").toDF("text")
      .select(SimHashExpression.simhashFold(
        transform(split(col("text"), " "), t => xxhash64(t))).as("fp"))
      .head().getLong(0)
    assert(viaSql == viaApi, "SQL and Column API must agree bit-for-bit")
    assert(spark.sql("SELECT simhash_fold(CAST(NULL AS ARRAY<BIGINT>)) AS fp").head().isNullAt(0))
    assert(spark.sql("SELECT simhash_fold(CAST(array() AS ARRAY<BIGINT>)) AS fp")
      .head().getLong(0) == 0L, "empty array: every vote ties to 0")
  }

  test("cms_join_est resolves from plain SQL and is exact in the collision-free regime") {
    import spark.implicits._
    Seq.tabulate(60)(i => s"u${i % 20}").toDF("k").createOrReplaceTempView("cms_join_a")
    Seq.tabulate(40)(i => s"u${i % 10}").toDF("k").createOrReplaceTempView("cms_join_b")
    val est = spark.sql(
      """SELECT cms_join_est(a.sk, b.sk, 4, 512) AS est
        |FROM (SELECT cms_sketch(k, 4, 512) AS sk FROM cms_join_a) a,
        |     (SELECT cms_sketch(k, 4, 512) AS sk FROM cms_join_b) b""".stripMargin)
      .head().getLong(0)
    // truth: 10 shared users × 3 × 4 = 120; 30 distinct keys at width
    // 512 is collision-free for this fixed key set → exact.
    assert(est == 120L, s"$est")
  }
}
