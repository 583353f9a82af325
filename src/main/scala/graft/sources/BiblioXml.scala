package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S2/S3 — snapshot-table XML extraction for the VIAF SRU and OCLC
  * Classify services (F13). The reference fetches these over HTTP with
  * a 6-month `Representation` cache (`viaf.py:831-841`,
  * `oclc/classify.py:1060-1084`); the engine models each service as a
  * SNAPSHOT TABLE of (key, xml) rows refreshed out-of-band, and
  * extraction is pure xpath over that table — so the relational core
  * never blocks on the network (SURVEY.md §7 hard-part 4).
  */
object BiblioXml {

  // ---- OCLC Classify (ref oclc/classify.py:68-94, 253-341) ----

  /** Parse a Classify snapshot table (key, xml) into work rows:
    * one row per OWI with the shared title/author/ddc/lcc. ONE document
    * parse per row (`XmlKernels.classifyDocs`), not one xpath
    * expression per field, each of which would re-parse the document. */
  def parseClassify(snapshot: DataFrame, keyCol: String, xmlCol: String): DataFrame =
    XmlKernels.classifyDocs(snapshot, keyCol, xmlCol)
      .select(col("key"), col("response_code"), col("title"), col("author"),
              col("ddc"), col("lcc"), explode_outer(col("owis")).as("owi"))

  /** Full single-parse Classify extraction: adds the `<authors>` block
    * (text + lc/viaf ids, ref `oclc/classify.py:485-529`),
    * holdings/editions measurements, pswid, DDC/LCC heading weights and
    * the FAST recommendation headings — one row per document. */
  def parseClassifyFull(snapshot: DataFrame, keyCol: String, xmlCol: String): DataFrame =
    XmlKernels.classifyDocs(snapshot, keyCol, xmlCol)

  // ---- VIAF SRU (ref viaf.py:277-304, 584-604) ----

  /** Cluster VIAF id (`//viafID`). */
  def viafId(xml: Column): Column =
    xpath_string(xml, lit("//*[local-name()='viafID']/text()"))

  /** Work titles attached to the cluster (ref `viaf.py:630-634`). */
  def viafTitles(xml: Column): Column =
    xpath(xml, lit(
      "//*[local-name()='titles']/*[local-name()='work']/*[local-name()='title']/text()"))

  /** Parse a VIAF snapshot table into (key, viaf_id, sort_name) rows —
    * one row per candidate sort name, ordinal preserved (encounter
    * order drives the reference's popularity prior, `viaf.py:497`).
    * ONE document parse per row via `XmlKernels.viafClusters` (covers
    * MARC21 100 AND 110 corporate headings, ref `viaf.py:288-295`). */
  def parseViafClusters(snapshot: DataFrame, keyCol: String, xmlCol: String): DataFrame =
    XmlKernels.viafClusters(snapshot, keyCol, xmlCol)
      .select(col("key"), col("viaf_id"), posexplode_outer(col("sort_names")))
      .withColumnRenamed("pos", "ordinal")
      .withColumnRenamed("col", "sort_name")

  /** Full single-parse cluster extraction: adds alternate-name forms
    * (MARC21 400/700 $a, ref `viaf.py:277-285`), UNIMARC nameparts
    * (ref `viaf.py:707-726`), the Wikipedia source name (ref
    * `viaf.py:522-530`) and attributed work titles — one row per
    * cluster with array/struct columns. */
  def parseViafFull(snapshot: DataFrame, keyCol: String, xmlCol: String): DataFrame =
    XmlKernels.viafClusters(snapshot, keyCol, xmlCol)
}
