package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K4 — staged MERGE upsert re-expressed as a join rewrite (SURVEY.md §7.3).
  *
  * Reference semantics (`core/extract/helpers/extractor_bq_helpers.py:40-185`):
  * load staging (truncate), then
  *   MERGE target USING staging ON target.key = staging.key
  *   WHEN MATCHED     THEN UPDATE SET c = SAFE_CAST(staging.c) for update cols
  *   WHEN NOT MATCHED THEN INSERT (insert col list)
  * then drop staging.
  *
  * Spark-first design: one `full_outer` join on the key; matched rows take
  * the staging value for update-listed columns (try_cast = SAFE_CAST) and
  * the target value otherwise; staging-only rows insert; target-only rows
  * pass through. This is a single shuffle on the key — at 100 TB the join
  * is a standard shuffled hash/sort-merge join that AQE sizes, and when the
  * staging side is a small incremental batch Spark broadcasts it.
  */
object Upsert {

  /** Pure merge: returns the merged DataFrame (snapshot contents).
    *
    * @param updateCols  columns overwritten from staging on match (the
    *                    reference's per-table update list; asymmetries like
    *                    convo's excluded `contact_num`/`payment` are honored
    *                    by the caller's list)
    * @param insertCols  columns inserted for staging-only keys (defaults to
    *                    all target columns)
    */
  def merge(target: DataFrame, staging: DataFrame, key: String,
            updateCols: Seq[String], insertCols: Option[Seq[String]] = None): DataFrame = {
    val outCols = target.columns.toSeq
    val insCols = insertCols.getOrElse(outCols).toSet
    // Row presence is tracked with explicit markers, not key nullability: a
    // full-outer join can't otherwise distinguish "no target row" from
    // "target row whose key IS NULL" (which BigQuery MERGE leaves untouched,
    // since NULL = NULL never matches).
    val t = target.withColumn("__t_present", lit(true)).alias("t")
    val s = staging.withColumn("__s_present", lit(true)).alias("s")
    val joined = t.join(s, col(s"t.$key") === col(s"s.$key"), "full_outer")
    val matched   = col("t.__t_present").isNotNull && col("s.__s_present").isNotNull
    val stageOnly = col("t.__t_present").isNull

    def outCol(c: String): Column = {
      val tc = col(s"t.$c")
      val sc = if (staging.columns.contains(c)) {
        // SAFE_CAST: coerce staging's value to the target column's type
        val targetType = target.schema(c).dataType
        col(s"s.$c").try_cast(targetType)
      } else lit(null).cast(target.schema(c).dataType)
      val updated  = if (updateCols.contains(c) || c == key) sc else tc
      val inserted = if (insCols.contains(c) || c == key) sc
                     else lit(null).cast(target.schema(c).dataType)
      when(matched, updated).when(stageOnly, inserted).otherwise(tc).as(c)
    }
    joined.select(outCols.map(outCol): _*)
  }
}
