package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (newline-delimited JSON) ingest/egress — the interchange
  * format LLM training corpora actually ship in (crawl dumps, HF
  * datasets exports), alongside the reference's CSV stores
  * (merge.py:24-35 reads its store as header-less CSV with coerced
  * dtypes; same contract here: EXPLICIT schema, never inference).
  *
  * Scale: a JSONL directory splits by file (and by block within a
  * file — newline-delimited records are splittable), so the scan
  * parallelizes like any text source; the parse runs inside the scan
  * projection. Schema inference would add a full pre-scan of the
  * corpus — `read` therefore REQUIRES the schema (SURVEY §1.3's
  * "explicit StructType at every source").
  */
object JsonlIO {

  /** Read a JSONL file/directory with an explicit schema. Records that
    * fail to parse surface in the `_corrupt_record` column only if the
    * caller adds one to the schema; by default PERMISSIVE mode yields
    * nulls — pass `strict = true` to fail the job on malformed input
    * instead (ingest-validation mode).
    */
  def read(spark: SparkSession, path: String, schema: StructType,
           strict: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
      .json(path)

  /** Write a DataFrame as a JSONL directory (one JSON object per
    * line, field order = schema order).
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** The deterministic JSONL corpus fixture behind q83 (the q32
    * multimodal pattern: a fixture keyed by its row count, built on first
    * touch, that the DuckDB oracle also reads). Every field derives from `id`
    * alone, so both engines agree on the expected aggregate without
    * sharing anything but the file.
    */
  val FixtureSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("meta", StructType(Seq(StructField("src", StringType))))))

  def writeFixture(spark: SparkSession, n: Long, out: String): Unit = {
    val langs = array(lit("en"), lit("fr"), lit("de"), lit("es"), lit("pt"))
    write(spark.range(n).select(
      col("id"),
      concat(lit("doc "), col("id"), lit(" "),
        array_join(array_repeat(
          concat(lit("tok"), pmod(col("id"), lit(7))),
          (pmod(col("id"), lit(13)) + 1).cast("int")), " ")).as("text"),
      element_at(langs, (pmod(col("id"), lit(5)) + 1).cast("int")).as("lang"),
      struct(when(pmod(col("id"), lit(3)) === 0, lit("web"))
        .otherwise(lit("book")).as("src")).as("meta")), out)
  }

  /** [[writeFixture]] once per row count as a fixture; its directory. */
  def fixtureJsonl(spark: SparkSession, n: Long): String =
    graft.util.Fixture.generated("jsonl", 1, n)(writeFixture(spark, n, _))
}
