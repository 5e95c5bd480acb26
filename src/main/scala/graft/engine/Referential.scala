package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential-integrity check: FK values with no match in a dimension
  * (the `media_ref` ∈ media-catalog check of BASELINE.json `north_rule`;
  * no reference analog — SURVEY.md §2.9 "joins").
  *
  * A left-anti join. Strategy selection is three-valued:
  * `broadcastDim = None` (default) lets Catalyst/AQE decide from its
  * size estimate of the deduplicated key projection — the safe default
  * for arbitrary catalogs (a forced broadcast of a 10⁹-key dimension
  * OOMs the driver); `Some(true)` forces a broadcast hint for
  * known-small catalogs so a 100 TB fact side never shuffles;
  * `Some(false)` forbids it (sort-merge/shuffled-hash), for skew-prone
  * or barely-fitting dimensions. The dimension is projected to its key
  * column *before* the join so whatever strategy wins ships only keys.
  * The projection is distinct-ed only for the shuffle strategies, where
  * fewer rows cross the exchange: an anti join only asks whether a key
  * exists, so a broadcast side may repeat keys, and its `distinct`
  * would cost a shuffle of the whole dimension on every call. A
  * streaming fact with a static dimension runs the same join once per
  * micro-batch (`StreamingValidate.danglingRefs`).
  */
object Referential {

  /** rows of `fact` whose `fkCol` is non-null and absent from
    * `dim.pkCol`. NULL FKs are not violations here (nullability is the
    * object contract's concern — required vs optional). */
  def dangling(fact: DataFrame, fkCol: String, dim: DataFrame,
               pkCol: String,
               broadcastDim: Option[Boolean] = None): DataFrame = {
    val keys0 = dim.select(col(pkCol).as(fkCol))
    val keys = broadcastDim match {
      case Some(true) => broadcast(keys0)
      case Some(false) => keys0.distinct().hint("shuffle_merge")
      case None => keys0.distinct() // AQE decides from its size estimate
    }
    fact.where(col(fkCol).isNotNull).join(keys, Seq(fkCol), "left_anti")
  }

  /** [[dangling]] for dimensions too big to broadcast, where a plain
    * anti join would sort-merge — i.e. EXCHANGE THE FACT by FK. This
    * shape never shuffles fact rows: (1) the fact's distinct FK values
    * collapse map-side (partial hash agg) into the key space — at 100 TB
    * the distinct-key stream is orders of magnitude smaller than the row
    * stream; (2) those keys anti-join the dim key projection (a shuffle
    * of keys only, on both sides); (3) the surviving dangling keys — rare
    * by the validation-engine assumption — semi-join back onto the fact,
    * where AQE sees their runtime size and broadcasts. Output identical
    * to [[dangling]]. The trade: the fact is SCANNED twice (cheap,
    * pruned-column, pushdown-eligible) instead of shuffled once. */
  def danglingViaKeys(fact: DataFrame, fkCol: String, dim: DataFrame,
                      pkCol: String): DataFrame = {
    val factKeys = fact.where(col(fkCol).isNotNull)
      .select(fkCol).distinct()
    val dimKeys = dim.select(col(pkCol).as(fkCol)).distinct()
    val danglingKeys = factKeys.join(dimKeys, Seq(fkCol), "left_anti")
    fact.where(col(fkCol).isNotNull)
      .join(danglingKeys, Seq(fkCol), "left_semi")
  }

  /** dangling FKs in the violation shape. */
  def violations(fact: DataFrame, fkCol: String, dim: DataFrame,
                 pkCol: String, idCol: String, thing: String = "data",
                 broadcastDim: Option[Boolean] = None): DataFrame =
    dangling(fact, fkCol, dim, pkCol, broadcastDim)
      .select(
        col(idCol).cast("string").as("doc_id"),
        lit("." + fkCol).as("path"),
        lit(s"`$fkCol` present in catalog").as("expected"),
        col(fkCol).cast("string").as("got"),
        lit(s"ref($fkCol -> $pkCol)").as("contract_repr"),
        concat(lit(s"check on `$thing` failed: Expected `$fkCol` present " +
          s"in catalog, but got dangling "), col(fkCol).cast("string"))
          .as("message"))
}
