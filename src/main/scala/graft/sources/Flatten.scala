package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** JSON:API → flat table projections (reference
  * convert_to_iceberg.py:319-398), as pure DataFrame=>DataFrame
  * functions of Column algebra — fully codegen'd, no UDFs.
  *
  * Typed overlay + map overflow: the known attribute vocabulary is
  * promoted to typed columns; everything else stays queryable in the
  * `attrs` map (the reference promotes only non-null attributes per
  * docket, giving per-docket schema drift — convert_to_iceberg.py:331-333;
  * here absent key ≡ NULL under ONE fixed schema, so cross-docket
  * union is trivial and partition-stable at any scale).
  */
object Flatten {

  /** Agency from the entity id: text before '/' if present, else text
    * before the first '-', else UNKNOWN (convert_to_iceberg.py:404-411). */
  def agencyFromId(id: Column): Column =
    when(id.isNull, lit("UNKNOWN"))
      .when(instr(id, "/") > 0, split(id, "/").getItem(0))
      .when(instr(id, "-") > 0, split(id, "-").getItem(0))
      .otherwise(lit("UNKNOWN"))

  private def attrs: Column = col("data.attributes")

  private def good(raw: DataFrame): DataFrame =
    raw.filter(col("_corrupt_record").isNull && col("data.id").isNotNull)

  private def core: Seq[Column] = Seq(
    col("data.id").as("id"),
    col("data.type").as("type"),
    col("data.links.self").as("link"))

  /** size() that treats a missing/NULL array as 0. */
  private def sz(c: Column): Column = coalesce(size(c), lit(0))

  /** Per-relationship element counts as MAP<STRING,INT> — the dynamic
    * generalization of the reference's `{rel}_count` columns
    * (convert_to_iceberg.py:335-339): every relationship key is
    * counted, none needs schema changes. */
  private def relCounts: Column =
    transform_values(
      coalesce(col("data.relationships"),
        map().cast("map<string,struct<data:array<struct<id:string,type:string>>>>")),
      (_, v) => sz(v.getField("data")))

  private val commentStringAttrs = Seq(
    "commentOn", "docketId", "agencyId", "comment", "firstName",
    "lastName", "organization", "documentType", "reasonWithdrawn", "title")

  /** Comments projection (convert_to_iceberg.py:367-398): core ids,
    * typed attribute overlay, attachment flags from relationships and
    * the top-level `included` array, derived agency partition key. */
  def comments(raw: DataFrame): DataFrame = {
    val attachments =
      element_at(col("data.relationships"), "attachments").getField("data")
    good(raw)
      .select(core ++
        commentStringAttrs.map(a => attrs.getItem(a).as(a)) ++ Seq(
          attrs.getItem("withdrawn").cast("boolean").as("withdrawn"),
          to_timestamp(attrs.getItem("postedDate")).as("postedDate"),
          to_timestamp(attrs.getItem("receiveDate")).as("receiveDate"),
          (sz(attachments) > 0).as("has_attachments"),
          sz(attachments).as("attachment_count"),
          (sz(col("included")) > 0).as("has_included_attachments"),
          sz(col("included")).as("included_attachment_count"),
          attrs.as("attrs")): _*)
      .withColumn("agency", agencyFromId(col("id")))
  }

  private val documentAttrs = Seq(
    "docketId", "agencyId", "documentType", "objectId", "title")

  /** Documents projection (convert_to_iceberg.py:343-365). */
  def documents(raw: DataFrame): DataFrame =
    good(raw)
      .select(core ++
        documentAttrs.map(a => attrs.getItem(a).as(a)) ++ Seq(
          to_timestamp(attrs.getItem("postedDate")).as("postedDate"),
          relCounts.as("rel_counts"),
          attrs.as("attrs")): _*)
      .withColumn("agency", agencyFromId(col("id")))

  private val docketAttrs = Seq("agencyId", "docketType", "title")

  /** Docket-info projection (convert_to_iceberg.py:319-341). */
  def docketInfo(raw: DataFrame): DataFrame =
    good(raw)
      .select(core ++
        docketAttrs.map(a => attrs.getItem(a).as(a)) ++ Seq(
          to_timestamp(attrs.getItem("modifyDate")).as("modifyDate"),
          relCounts.as("rel_counts"),
          attrs.as("attrs")): _*)
      .withColumn("agency", agencyFromId(col("id")))
}
