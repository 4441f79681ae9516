package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSuite

class ConfigSourceSpec extends SparkSuite {

  private def write(json: String): String = {
    val p = java.nio.file.Paths.get(tempDir("graft_cfg")).resolve("indices.json")
    Files.writeString(p, json)
    p.toString
  }

  test("valid config loads as typed IndexMeta") {
    val path = write(
      """[{"name":"DAX","ticker":"^GDAXI","country":"Germany","exchange":"XETRA","currency":"EUR"},
        | {"name":"S&P 500","ticker":"^GSPC","country":"USA","exchange":"NYSE","currency":"USD"}]"""
        .stripMargin)
    val metas = ConfigSource.loadIndexMeta(spark, path).collect()
    assert(metas.length == 2)
    assert(metas.find(_.ticker == "^GDAXI").get.currency == "EUR")
  }

  test("missing required field fails loudly, naming the field") {
    val path = write("""[{"name":"DAX","ticker":"^GDAXI","country":"Germany","exchange":"XETRA"}]""")
    val e = intercept[IllegalArgumentException](ConfigSource.loadIndexMeta(spark, path))
    assert(e.getMessage.contains("currency"))
  }

  test("null required field fails loudly, naming the entry") {
    val path = write(
      """[{"name":"DAX","ticker":"^GDAXI","country":"Germany","exchange":"XETRA","currency":"EUR"},
        | {"name":"Broken","ticker":null,"country":"X","exchange":"Y","currency":"USD"}]"""
        .stripMargin)
    val e = intercept[IllegalArgumentException](ConfigSource.loadIndexMeta(spark, path))
    assert(e.getMessage.contains("Broken"))
  }
}
