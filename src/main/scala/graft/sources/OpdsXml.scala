package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S9/S10 — OPDS/Atom feed parse and generation (ref
  * `controller.py:566-597` feedparser input, `controller.py:474-503`
  * AcquisitionFeed output). Parsing is one pull-parse pass per
  * document ([[XmlKernels]]) — no external XML library.
  */
object OpdsXml {

  /** Parse a DataFrame of single-entry OPDS documents into rows — one
    * StAX pass per document (see [[XmlKernels.opdsEntryScalars]]; the
    * per-column xpath form re-parsed each document three times).
    */
  def parseEntries(df: DataFrame, xmlCol: String): DataFrame =
    XmlKernels.opdsEntryScalars(df, xmlCol)

  /** Parse whole FEED documents into one row per entry — single
    * pull-parse per document, covering the namespaced fields real
    * lookup feeds carry (simplified:sort_name/pwid,
    * schema:additionalType, bibframe:distribution provider). */
  def parseFeedEntries(df: DataFrame, keyCol: String, xmlCol: String): DataFrame =
    XmlKernels.opdsFeedEntries(df, keyCol, xmlCol)

  private def xmlEscape(c: Column): Column = {
    // &-escape first, then the rest — order matters.
    val amp = regexp_replace(c, "&", "&amp;")
    val lt = regexp_replace(amp, "<", "&lt;")
    regexp_replace(lt, ">", "&gt;")
  }

  /** S10 — render (id, title, author) rows as OPDS entry fragments.
    * The feed envelope (one small string) is assembled by the API
    * layer; the engine's job is the per-row entry XML, which stays
    * distributed/codegen'd.
    */
  def renderEntries(df: DataFrame, idCol: String, titleCol: String,
                    authorCol: String): DataFrame =
    df.select(concat(
      lit("<entry><id>"), xmlEscape(col(idCol)),
      lit("</id><title>"), xmlEscape(col(titleCol)),
      lit("</title><author><name>"), xmlEscape(col(authorCol)),
      lit("</name></author></entry>")).as("entry_xml"))
}
