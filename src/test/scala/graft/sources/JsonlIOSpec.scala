package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class JsonlIOSpec extends SparkSpec {
  import spark.implicits._

  test("round trip: write then explicit-schema read preserves rows incl. nested struct") {
    val dir = graft.TempWarehouse.dir("graft-jsonl-rt")
    val df = Seq((1L, "hello world", "en", "web"), (2L, "bonjour", "fr", "book"))
      .toDF("id", "text", "lang", "src")
      .select(col("id"), col("text"), col("lang"), struct(col("src")).as("meta"))
    JsonlIO.write(df, s"$dir/docs")
    val back = JsonlIO.read(spark, s"$dir/docs", JsonlIO.FixtureSchema)
      .select(col("id"), col("text"), col("lang"), col("meta.src"))
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(back === Seq((1L, "hello world", "en", "web"), (2L, "bonjour", "fr", "book")))
  }

  test("permissive read nulls malformed records; strict read fails fast") {
    val dir = graft.TempWarehouse.dir("graft-jsonl-bad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part.json"),
      """{"id": 1, "text": "ok", "lang": "en", "meta": {"src": "web"}}
        |not json at all
        |""".stripMargin)
    val permissive = JsonlIO.read(spark, dir, JsonlIO.FixtureSchema)
    assert(permissive.count() == 2L)
    assert(permissive.filter(col("id").isNull).count() == 1L,
      "malformed line must surface as an all-null row in PERMISSIVE mode")
    val err = intercept[org.apache.spark.SparkException] {
      JsonlIO.read(spark, dir, JsonlIO.FixtureSchema, strict = true).count()
    }
    assert(err.getMessage != null)
  }

  test("fixture is deterministic and id-derivable (the q83 oracle contract)") {
    val dir = graft.TempWarehouse.dir("graft-jsonl-fx")
    JsonlIO.writeFixture(spark, 60L, s"$dir/fx")
    val rows = JsonlIO.read(spark, s"$dir/fx", JsonlIO.FixtureSchema)
      .select(col("id"), col("lang"), col("meta.src"), length(col("text")).as("len"))
      .as[(Long, String, String, Int)].collect().sortBy(_._1)
    assert(rows.length == 60)
    assert(rows(0) == (0L, "en", "web", 10),
      s"id 0 must be ('doc 0 tok0', en, web), got ${rows(0)}")
    assert(rows(7)._2 == "de" && rows(7)._3 == "book")
  }

  test("fixtureJsonl reuses its directory: a second call is a no-op") {
    val fx = JsonlIO.fixtureJsonl(spark, 60L)
    assert(JsonlIO.read(spark, fx, JsonlIO.FixtureSchema).count() == 60L)
    val m = new java.io.File(s"$fx/_SUCCESS").lastModified
    assert(JsonlIO.fixtureJsonl(spark, 60L) == fx)
    assert(new java.io.File(s"$fx/_SUCCESS").lastModified == m)
  }
}
