package graft

import graft.plans.{GraftExtensions, Hash60}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class Hash60Spec extends SparkSpec {
  import spark.implicits._

  /** Composed built-in form of hash60: the reference semantics the
    * native expression must reproduce. */
  private def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private lazy val strs =
    (Seq("", "a", "abc", "the_quick_brown", "€ünïcødé", "x" * 500) ++
      (0 until 200).map(i => s"token_$i")).toDF("s")

  test("native Hash60 ≡ composed conv(substring(md5)) form, incl. unicode and empty") {
    val rows = strs.select(
      Hash60.hash60($"s").as("native"),
      hash60Composed($"s").as("composed")
    ).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("registered SQL function graft_hash60 resolves and matches") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT graft_hash60('abc') AS h").head().getLong(0)
    val expected = strs.limit(0).sparkSession.range(1)
      .select(hash60Composed(lit("abc"))).head().getLong(0)
    assert(r == expected)
  }

  test("graft_jaro_winkler and graft_hilbert_key2 resolve in SQL and agree with column forms") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta') AS jw, " +
        "graft_hilbert_key2(3L, 5L, 4) AS hk").head()
    assert(row.getDouble(0) == graft.plans.JaroWinklerImpl.jaroWinkler("martha", "marhta"))
    assert(row.getLong(1) == graft.plans.HilbertImpl.key2(3L, 5L, 4))
    val nrm = spark.sql(
      "SELECT graft_strip_accents('caf\u00e9') AS sa, graft_nfc('e\u0301') AS nf").head()
    assert(nrm.getString(0) == "cafe")
    assert(nrm.getString(1) == "\u00e9")
  }

  test("all graft_* SQL functions resolve and agree with their column forms") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_shingle_hashes('a b c d', 3) AS sh,
        |       graft_minhash_sig(graft_shingle_hashes('a b c d', 3), 4) AS sig,
        |       graft_band_buckets(graft_minhash_sig(graft_shingle_hashes('a b c d', 3), 4), 2, 2) AS bb,
        |       graft_simhash60('a b c d') AS sim,
        |       graft_sign_bands(array(1L, -2L, 3L), 4, 2, 64) AS sb""".stripMargin).head()
    assert(row.getSeq[Long](0).length == 2)    // 4 tokens, n=3 → 2 shingles
    assert(row.getSeq[Long](1).length == 4)
    assert(row.getSeq[Long](2).length == 2)
    val viaColumns = strs.limit(0).sparkSession.range(1)
      .select(graft.plans.SimHash60.simhash60(lit("a b c d"))).head().getLong(0)
    assert(row.getLong(3) == viaColumns)
    val sbViaColumns = strs.limit(0).sparkSession.range(1)
      .select(graft.plans.SignBands.signBands(
        typedLit(Seq(1L, -2L, 3L)), 4, 2)).head().getSeq[Long](0)
    assert(row.getSeq[Long](4) == sbViaColumns && sbViaColumns.length == 4)
  }

  test("native expression stays inside whole-stage codegen") {
    // needs a real scan (a LocalTableScan projection has no codegen stage)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs.select(Hash60.hash60($"text")).queryExecution.executedPlan.toString
    // whole-stage codegen renders as a "*(n)" stage prefix
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("graft_hash60"), plan)
  }

  test("values are non-negative 60-bit") {
    val vals = strs.select(Hash60.hash60($"s")).as[Long].collect()
    assert(vals.forall(v => v >= 0 && v < (1L << 60)))
  }
}
