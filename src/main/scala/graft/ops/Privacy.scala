package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Privacy audits for release candidates — the check a training-data
  * pipeline runs before a table (or a corpus's metadata sidecar)
  * leaves the trust boundary. Complements [[graft.plans.Redact]]-style
  * value scrubbing: redaction removes direct identifiers; these
  * audits measure whether the REMAINING quasi-identifiers still
  * single people out (Sweeney's k-anonymity, Machanavajjhala's
  * l-diversity).
  *
  * Everything is exact integer counting — one hash aggregate to the
  * equivalence classes (shuffle keyed on the QI tuple, data-sized in,
  * class-sized out), so the audit runs at full cluster parallelism
  * at any scale and every number is oracle-exact.
  */
object Privacy {

  /** Per-equivalence-class k-anonymity/l-diversity audit: group by
    * the quasi-identifier columns, report class size (k-anonymity of
    * a row = its class size), distinct sensitive values (l-diversity
    * — a class can be large yet reveal everyone's value when l = 1),
    * and the k_ok flag. NULL QI values form their own class (SQL
    * group semantics — NULL is a real, linkable published value).
    *
    * Output: qiCols :+ (class_size, distinct_sensitive, k_ok). */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 k: Long): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymity: need at least one quasi-identifier column")
    require(k >= 2, s"kAnonymity: k must be >= 2, got $k")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col(sensitiveCol)).as("distinct_sensitive"))
      .withColumn("k_ok", col("class_size") >= k)
  }
}
