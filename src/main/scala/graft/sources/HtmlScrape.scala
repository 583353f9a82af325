package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S5/F15 — Content-Cafe-style HTML scraping (ref
  * `content_cafe.py:125-131` title via `span.PageHeader2`,
  * `content_cafe.py:308-346` review table walk). The reference uses
  * BeautifulSoup per page; the engine scrapes WELL-FORMED snapshot
  * pages with xpath expressions (codegen'd), and falls back to regexp
  * extraction for the tag-soup cases — both per-row narrow ops over a
  * snapshot table, never a live fetch.
  */
object HtmlScrape {

  /** Bad-title sentinel filter (ref `content_cafe.py:129-131`: the
    * service serves placeholder pages for unknown ISBNs). */
  val BadTitles: Seq[String] = Seq("Unknown", "", "N/A")

  /** Title + review rows per page. ONE scanner pass per document
    * (`XmlKernels.scrapedPages` — tag-soup tolerant, like the
    * reference's BeautifulSoup walk), not one xpath expression per
    * field, each of which would re-parse the DOM. */
  def scrapeReviews(snapshot: DataFrame, keyCol: String,
                    htmlCol: String): DataFrame =
    XmlKernels.scrapedPages(snapshot, keyCol, htmlCol)
      .select(col("key"), col("title"), posexplode_outer(col("reviews")))
      .withColumnRenamed("pos", "review_ordinal")
      .withColumnRenamed("col", "review")
      .filter(!col("title").isin(BadTitles: _*))

  /** The REAL page shape (ref `content_cafe.py:315-346`): inside
    * `table#Table_Main`, each `td.SectionHeader` row is followed by a
    * content row — one output row per section with its inner HTML,
    * plus the page title. */
  def scrapeSectioned(snapshot: DataFrame, keyCol: String,
                      htmlCol: String): DataFrame =
    XmlKernels.sectionedPages(snapshot, keyCol, htmlCol)
      .select(col("key"), col("title"), posexplode_outer(col("sections")))
      .withColumnRenamed("pos", "section_ordinal")
      .select(col("key"), col("title"), col("section_ordinal"),
              col("col.section").as("section"),
              col("col.content").as("content"))
}
