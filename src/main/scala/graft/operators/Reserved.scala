package graft.operators

import org.apache.spark.sql.DataFrame

/** The one reserved-name clash authority for every operator that
  * synthesizes internal or output columns on (or joined against) the
  * caller's frame — consolidating what [[QualityModel.score]],
  * `Dedup.lineDedupGuards`, and `Splits.exactTopQuota` each hand-rolled
  * as three slightly different lists. Two distinct failure shapes, two
  * checks:
  *
  *  - [[requireFreeColumns]] — the CALLER'S FRAME already carries a
  *    name the operator appends (`withColumn` would silently clobber
  *    it) or joins in (`col("x")` would die later with an obscure
  *    ambiguous-reference analyzer error, far from the call site).
  *    Reserve ONLY names that actually ride the caller's frame — an
  *    internal name living purely in a fresh `select` lineage never
  *    sees the caller's other columns and must NOT be reserved (that
  *    over-reservation is why the hand-rolled lists drifted).
  *
  *  - [[requireFreeParams]] — a caller-CHOSEN column name (the key /
  *    text / value parameter) is itself one of the operator's internal
  *    working names. The parameter column DOES ride the internal
  *    lineages, so the collision surfaces there: a duplicate column
  *    name in a projection, or a `withColumn` silently replacing the
  *    key column mid-pipeline.
  *
  * Each operator family's reserved set is pinned (positive + negative)
  * by `ReservedNamesSpec`.
  */
private[graft] object Reserved {

  /** Fail loud when `df` already carries any of `reserved`. `appends`
    * finishes the message: what the operator would have added, e.g.
    * `"score appends quality_prob"`. */
  def requireFreeColumns(df: DataFrame, reserved: Seq[String],
      operator: String, appends: String): Unit = {
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"frame already carries ${clash.mkString(", ")} — drop or " +
        s"rename before $operator ($appends)")
  }

  /** Fail loud when any named parameter value is one of `internal`.
    * `params` are `(parameterName, columnName)` pairs, e.g.
    * `("key", key), ("textCol", textCol)`. */
  def requireFreeParams(internal: Seq[String], operator: String,
      params: (String, String)*): Unit = {
    val bad = params.filter(p => internal.contains(p._2))
    require(bad.isEmpty,
      s"${bad.map { case (p, v) => s"$p='$v'" }.mkString(", ")} may " +
        s"not use a reserved internal name of $operator (reserved: " +
        s"${internal.mkString(", ")})")
  }
}
