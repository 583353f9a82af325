package graft.operators

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The merge engine (SURVEY.md §2.8): M1 policy-gated metadata→edition
  * merge, A4 additive child merges, M4 multi-record consolidation, and
  * M6 presentation-edition election. Set-oriented re-expression of the
  * reference's per-row `Metadata.apply` (`controller.py:628-629`,
  * `oclc/classify.py:1186-1188`): one join + per-column `coalesce`/
  * `when` trees instead of a Python loop per edition.
  */
object MetadataMerge {

  /** M1 — apply a batch of Metadata rows onto their editions, keyed by
    * primary identifier (type, identifier). Scalar columns follow the
    * policy: metadata-wins (`coalesce(meta, edition)`) or fill-nulls
    * (`coalesce(edition, meta)`). Editions without incoming metadata
    * pass through unchanged (left join).
    */
  def applyMetadata(editions: Dataset[Edition], metadata: Dataset[Metadata],
                    policy: ReplacementPolicy): DataFrame = {
    val meta = metadata.toDF()
      .select(
        col("primaryIdentifier.idType").as("m_idType"),
        col("primaryIdentifier.identifier").as("m_identifier"),
        col("title").as("m_title"),
        col("subtitle").as("m_subtitle"),
        col("language").as("m_language"),
        col("publisher").as("m_publisher"))
    def merged(ed: String, m: String) =
      if (policy.replaceScalars) coalesce(col(m), col(ed)).as(ed)
      else coalesce(col(ed), col(m)).as(ed)
    editions.toDF()
      .join(meta,
        col("identifierType") === col("m_idType") &&
        col("identifier") === col("m_identifier"), "left")
      .select(col("editionId"), col("identifierType"), col("identifier"),
        merged("title", "m_title"), merged("subtitle", "m_subtitle"),
        merged("language", "m_language"), merged("publisher", "m_publisher"),
        col("author"), col("sortAuthor"), col("permanentWorkId"))
  }

  /** M1 child-list merge (ref `Metadata.apply`'s per-family handling,
    * gated by `coverage_utils.py:20-49`): `existing` and `incoming` are
    * child tables keyed (identifier, source) with identical schemas.
    * replace=true models the reference's "remove this data source's old
    * rows for the touched identifiers, then add the new ones"; false is
    * the additive union. Either way the result dedups exact duplicates.
    * Both legs are equi-joins/unions on (identifier, source) — no
    * per-edition loop, scales as one shuffle.
    */
  def mergeChildRows(existing: DataFrame, incoming: DataFrame,
                     replace: Boolean): DataFrame = {
    val kept =
      if (replace)
        existing.join(
          incoming.select(col("identifier"), col("source")).distinct(),
          Seq("identifier", "source"), "left_anti")
      else existing
    kept.unionByName(incoming).distinct()
  }

  /** Contributions flavor: non-replace leaves the edition's contributor
    * list untouched (the reference only rewrites contributions when the
    * policy says so — it never unions two sources' contributor lists).
    */
  def mergeContributions(existing: DataFrame, incoming: DataFrame,
                         replace: Boolean): DataFrame =
    if (replace) mergeChildRows(existing, incoming, replace = true)
    else existing

  /** Presentation recalculation dispatcher: the stages of the policy
    * this operator owns (M6 election). Other flags gate stages that
    * live elsewhere (A4 classify rollup, S10 render) — callers compose
    * them the same way. */
  def applyPresentation(candidates: DataFrame,
                        policy: PresentationCalculationPolicy,
                        poolCol: String = "pool_id"): DataFrame =
    if (policy.chooseEdition) electPresentationEdition(candidates, poolCol)
    else candidates

  /** A4 — additive subject-weight merge (ref `oclc/classify.py:113-128`:
    * "SubjectData and MeasurementData are additive"): explode the
    * nested subjects and sum weights per (identifier, type, subject).
    * One shuffle with map-side partial aggregation.
    */
  def additiveSubjects(metadata: Dataset[Metadata]): DataFrame =
    metadata.toDF()
      .select(col("primaryIdentifier.identifier").as("identifier"),
              explode(col("subjects")).as("s"))
      .groupBy(col("identifier"), col("s.subjectType").as("subjectType"),
               col("s.identifier").as("subjectId"))
      .agg(sum(col("s.weight")).as("weight"))

  /** M4 — multi-OWI consolidation (ref `oclc/classify.py:97-128`,
    * `1125-1179`): several records per primary identifier fold into
    * one — contributors FIRST-wins in encounter order (`ord`),
    * subjects/measurements additive. Returns one nested row per
    * identifier.
    */
  def consolidate(metadata: DataFrame, ordCol: String = "ord"): DataFrame = {
    val df = metadata
    val key = col("primaryIdentifier.identifier").as("identifier")
    // first non-empty contributor list by encounter order
    val firstContribs = df
      .select(key, col(ordCol), col("contributors"))
      .filter(size(col("contributors")) > 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("identifier")).orderBy(col(ordCol))))
      .filter(col("rn") === 1)
      .select(col("identifier"), col("contributors"))
    val subjects = df.select(key, explode(col("subjects")).as("s"))
      .groupBy(col("identifier"), col("s.subjectType"), col("s.identifier").as("sid"))
      .agg(sum(col("s.weight")).as("weight"))
      .groupBy(col("identifier"))
      .agg(collect_list(struct(col("subjectType"), col("sid"), col("weight")))
        .as("subjects"))
    val measurements = df.select(key, explode(col("measurements")).as("m"))
      .groupBy(col("identifier"), col("m.quantity"))
      .agg(sum(col("m.value")).as("value"))
      .groupBy(col("identifier"))
      .agg(collect_list(struct(col("quantity"), col("value"))).as("measurements"))
    // One output row per IDENTIFIER: multi-source batches fold too, the
    // reported dataSource being the first by encounter order (a
    // per-(identifier, source) grouping would silently duplicate
    // identifiers and double-count downstream merges).
    df.select(col("primaryIdentifier.identifier").as("identifier"),
              col("dataSource"), col(ordCol))
      .groupBy(col("identifier"))
      .agg(min_by(col("dataSource"), col(ordCol)).as("dataSource"))
      .join(firstContribs, Seq("identifier"), "left")
      .join(subjects, Seq("identifier"), "left")
      .join(measurements, Seq("identifier"), "left")
  }

  /** M6 — presentation-edition election (ref
    * `oclc/linked_data.py:1141-1172`, `coverage_utils.py:113-129`):
    * among each pool's candidate editions prefer titled+authored, then
    * titled, breaking remaining ties by lowest edition id. Editions
    * with author = UNKNOWN_AUTHOR count as unauthored.
    */
  val UnknownAuthor = "[Unknown]"

  def electPresentationEdition(candidates: DataFrame,
                               poolCol: String = "pool_id"): DataFrame = {
    val authored = (col("author").isNotNull && col("author") =!= UnknownAuthor)
      .cast("int")
    val titled = col("title").isNotNull.cast("int")
    val w = Window.partitionBy(col(poolCol))
      .orderBy(authored.desc, titled.desc, col("editionId").asc)
    candidates
      .filter(col("title").isNotNull)  // a presentation edition must have a title
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
