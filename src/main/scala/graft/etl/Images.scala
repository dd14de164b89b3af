package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.GroupTopK

/** Image-pipeline operators (SURVEY.md §2):
  *  - S7/F7 decorative-image filter: drop <100×100 px or skip-pattern
  *    src/alt (commands/extract.md:474-489, config/limits.yaml:56-74)
  *  - T4 first-5 slice per page (extract.md:489)
  *  - F11 image version resolver: compressed-if-small → original-if-
  *    small → original-if-medium → error (agents/image-analyzer.md:42-86)
  *
  * The synthetic image metadata table derives deterministically from
  * `part` (name/alt from p_name/p_type, dimensions from p_size, byte
  * sizes from p_retailprice cents) — the same construction in the
  * DuckDB oracle.
  */
object Images {

  /** Deterministic image-metadata corpus: one row per part. */
  def imageCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey").as("img_id"),
      col("p_brand").as("page"),
      concat(regexp_replace(lower(col("p_name")), " ", "_"),
        when(col("p_partkey") % 9 === 0, "_icon").otherwise(""),
        lit(".png")).as("src"),
      when(col("p_partkey") % 17 === 0, concat(lit("logo "), col("p_type")))
        .otherwise(col("p_type")).as("alt"),
      (col("p_size") * 13 % 500 + 40).cast("int").as("width"),
      (col("p_size") * 7 % 400 + 60).cast("int").as("height"),
      Relational.cents(col("p_retailprice")).as("comp_bytes"),
      (Relational.cents(col("p_retailprice")) * 3).as("orig_bytes"))

  val DecorativePattern = "(?i)icon|logo|avatar|emoji|button|arrow|chevron|loading|spinner|placeholder"

  /** F7 predicate: keep only substantive images. */
  def keepImage(width: Column, height: Column, src: Column, alt: Column): Column =
    width >= 100 && height >= 100 &&
      !lower(src).rlike(DecorativePattern) && !lower(alt).rlike(DecorativePattern)

  /** S7+F7+T4: filter decorative/small, keep first 5 per page (by id). */
  def imageFilter(spark: SparkSession, dir: String): DataFrame = {
    GroupTopK.topK(imageCorpus(spark, dir)
        .filter(keepImage(col("width"), col("height"), col("src"), col("alt"))),
        5, "rn", Seq("page"), col("img_id").asc)
      .select(col("page"), col("rn"), col("img_id"), col("src"),
        col("width"), col("height"))
      .orderBy("page", "rn")
  }

  /** F11: fallback-chain version resolution as a coalesce of guarded
    * candidates; unresolvable rows surface as an explicit error status
    * (never silently dropped — DESIGN.md:150-151 degradation rule).
    */
  def resolveVersion(compBytes: Column, origBytes: Column,
      compPath: Column, origPath: Column,
      smallCap: Long = 95000, mediumCap: Long = 310000): Column =
    coalesce(
      when(compBytes < smallCap, compPath),
      when(origBytes < smallCap, origPath),
      when(origBytes < mediumCap, origPath))

  def imageResolve(spark: SparkSession, dir: String): DataFrame = {
    val comp = concat(lit("compressed/"), col("src"))
    val orig = concat(lit("original/"), col("src"))
    imageCorpus(spark, dir)
      .withColumn("resolved",
        resolveVersion(col("comp_bytes"), col("orig_bytes"), comp, orig))
      .select(col("img_id"), col("comp_bytes"), col("orig_bytes"),
        coalesce(col("resolved"), lit("ERROR:unreadable")).as("chosen"))
      .orderBy("img_id")
  }
}
