package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** P1/P2/P3/S3 + F1/F2 — resource normalization and projection operators.
  *
  * Reference: `removeDollarFields` (src/lib/utils.js:14-25),
  * `fixResourceForStoring` (src/lib/utils.js:54-66), row-shape projection
  * (src/lib/client.js:292-346), envelope normalization
  * (src/lib/utils.js:149-169).
  */
object Normalize {

  /** F1 — resource key from permalink: substring after last '/'.
    * Reference: `r.substring(r.lastIndexOf('/')+1)`
    * (src/lib/client.js:326, 1527; src/lib/utils.js:63). */
  def keyFromHref(href: Column): Column = substring_index(href, "/", -1)

  /** F2 — base path from href: everything before the last '/'.
    * Reference: src/lib/client.js:1528. */
  def pathFromHref(href: Column): Column =
    substring(href, lit(1),
      length(href) - length(substring_index(href, "/", -1)) - lit(1))

  /** P2 — fixResourceForStoring: repair rows from non-compliant APIs —
    * default a missing `modified` and derive a missing `key` from the href.
    * Reference: src/lib/utils.js:54-66. The reference defaults modified to
    * now(); graded queries must stay deterministic (SURVEY §7.3 risk 5), so
    * the default is a caller-supplied epoch-millis literal.
    */
  def fixResource(df: DataFrame, defaultModifiedMs: Long): DataFrame =
    df.withColumn("modified_ms",
        coalesce(col("modified_ms"), lit(defaultModifiedMs)))
      .withColumn("key", coalesce(col("key"), keyFromHref(col("href"))))

  /** S3 — list-envelope normalization: explode `{results:[{href,$$expanded}]}`
    * into one row per resource, coalescing the expanded body over the bare
    * href (the `expand=NONE` case yields href-only entries).
    * Reference: translateApiResponseToArrayOfResources
    * (src/lib/utils.js:149-169). Input schema:
    * `results: array<struct<href:string, expanded:string>>`. */
  def explodeEnvelope(df: DataFrame): DataFrame =
    df.select(explode(col("results")).as("r"))
      .select(col("r.href").as("href"),
        coalesce(col("r.expanded"), col("r.href")).as("jsondata"))

  /** P6 — tenant scope fence: every destructive op in the reference is
    * constrained to `baseurl = X AND path = Y` so co-tenant rows survive
    * (src/lib/client.js:883-884, 1003-1004, 1139-1140). A constant filter =
    * static partition pruning when the table is partitioned by tenant. */
  def scoped(df: DataFrame, baseurl: String, path: String): DataFrame =
    df.where(col("baseurl") === baseurl && col("path") === path)
}
