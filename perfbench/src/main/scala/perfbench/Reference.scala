package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Independent reference for span-document validation: the flagship
  * rule written as plain Scala over rows, run through the RDD API. It
  * shares no code with the engine's compiled contracts, so agreement
  * with it is evidence that the engine's output is right, not merely
  * repeatable.
  *
  * Compared per check:
  *  - contract: the multiset of doc_ids of input rows that fail the
  *    span contract (their payload columns are compared separately,
  *    against the engine's generic compile);
  *  - uniqueness: one full violation row per occurrence of a
  *    duplicated doc_id;
  *  - referential: one full violation row per media_ref missing from
  *    the catalog.
  * A full row is (doc_id, path, expected, got, contract_repr, message),
  * with the messages the engine documents for the two checks. */
object Reference {
  /** a violation row, its columns in [[Reference.columns]] order; null
    * cells read as "<null>" so rows always sort */
  type V = (String, String, String, String, String, String)

  val columns = Seq("doc_id", "path", "expected", "got", "contract_repr",
    "message")

  final case class Failures(contract: Seq[String], unique: Seq[V],
                            dangling: Seq[V])

  private def cell(x: String): String = if (x == null) "<null>" else x

  private val UniqueExpected = "unique `doc_id`"
  private val RefExpected = "`media_ref` present in catalog"

  def uniqueRow(id: String): V = (cell(id), ".doc_id", UniqueExpected,
    cell(id), "unique(doc_id)",
    "check on `docs` failed: Expected unique `doc_id`, but got duplicate " +
      (if (id == null) "null" else id))

  def danglingRow(id: String, ref: String): V = (cell(id), ".media_ref",
    RefExpected, cell(ref), "ref(media_ref -> media_id)",
    "check on `docs` failed: Expected `media_ref` present in catalog, " +
      s"but got dangling $ref")

  private val MediaRef = "^media-[0-9]+$".r
  private val MediaKinds = Set("image", "audio", "video")

  private def spanOk(s: Row): Boolean = {
    if (s == null) return false
    val kind = s.getAs[String]("kind")
    val text = s.getAs[String]("text")
    val ref = s.getAs[String]("media_ref")
    val offOk = !s.isNullAt(s.fieldIndex("offset")) &&
      s.getAs[Int]("offset") >= 0
    val textSpan = kind == "text" && text != null && ref == null
    val mediaSpan = kind != null && MediaKinds(kind) && text == null &&
      ref != null && MediaRef.pattern.matcher(ref).matches()
    offOk && (textSpan || mediaSpan)
  }

  private def increasing(spans: Seq[Row]): Boolean = {
    var prev = -1L
    spans.forall { s =>
      if (s.isNullAt(s.fieldIndex("offset"))) false
      else {
        val o = s.getAs[Int]("offset").toLong
        val ok = o > prev
        prev = o
        ok
      }
    }
  }

  def contractOk(r: Row): Boolean = {
    val id = r.getAs[String]("doc_id")
    val spans = r.getAs[scala.collection.Seq[Row]]("spans")
    id != null && id.startsWith("doc-") && spans != null &&
      spans.forall(spanOk) && increasing(spans.toSeq)
  }

  def failures(docs: DataFrame, media: DataFrame): Failures = {
    val sc = docs.sparkSession.sparkContext
    val catalog = sc.broadcast(
      media.select("media_id").collect().map(_.getString(0)).toSet)
    // one pass over the rows: (doc_id, passes the contract, media_refs
    // missing from the catalog)
    val perRow = docs.select("doc_id", "spans").rdd.map { r =>
      val spans = r.getAs[scala.collection.Seq[Row]]("spans")
      val dangling =
        if (spans == null) Seq.empty[String]
        else spans.toSeq.collect {
          case s if s != null && s.getAs[String]("media_ref") != null &&
            !catalog.value(s.getAs[String]("media_ref")) =>
            s.getAs[String]("media_ref")
        }
      (r.getAs[String]("doc_id"), contractOk(r), dangling)
    }.cache()
    try {
      val contract = perRow.filter(!_._2).map(_._1).collect().toSeq
      val dangling = perRow.filter(_._3.nonEmpty)
        .flatMap(r => r._3.map(danglingRow(r._1, _))).collect().toSeq
      val unique = perRow.map(r => (r._1, 1L)).reduceByKey(_ + _)
        .filter(_._2 > 1)
        .flatMap { case (id, n) => Seq.fill(n.toInt)(uniqueRow(id)) }
        .collect().toSeq
      Failures(contract.map(cell).sorted, unique.sorted, dangling.sorted)
    } finally {
      perRow.unpersist()
      catalog.destroy()
    }
  }

  /** the engine's contract violations: every row that neither the
    * uniqueness nor the referential check produced. */
  def contractRows(viols: DataFrame): DataFrame =
    viols.where(!viols("expected").isin(UniqueExpected, RefExpected))

  /** split engine violation rows by the check that produced them, in
    * the same shape as [[failures]]. */
  def engineFailures(viols: DataFrame): Failures = {
    val rows = viols.select(columns.map(viols(_)): _*).collect().toSeq
      .map(r => (cell(r.getString(0)), cell(r.getString(1)),
        cell(r.getString(2)), cell(r.getString(3)), cell(r.getString(4)),
        cell(r.getString(5))))
    Failures(
      rows.filter(r => r._3 != UniqueExpected && r._3 != RefExpected)
        .map(_._1).sorted,
      rows.filter(_._3 == UniqueExpected).sorted,
      rows.filter(_._3 == RefExpected).sorted)
  }
}
