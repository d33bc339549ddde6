package graft

import java.sql.Timestamp
import org.apache.spark.storage.StorageLevel
import graft.sink.Figures

class FiguresSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def cleanTable = Seq(
    ("london", "GB", ts("2024-01-01 06:00:00"), 10.0, 55.0, "Clear"),
    ("london", "GB", ts("2024-01-01 18:00:00"), 12.0, 60.0, "Clear"),
    ("london", "GB", ts("2024-01-02 06:00:00"), 11.0, 58.0, "Rain"),
    ("tokyo", "JP", ts("2024-01-01 06:00:00"), 5.0, 70.0, "Rain"),
    ("tokyo", "JP", ts("2024-01-02 06:00:00"), 6.0, 72.0, "Clouds"))
    .toDF("city", "country", "timestamp", "temperature", "humidity", "weather_condition")

  test("writeFigures renders the reference's five charts as well-formed SVG") {
    val dir = java.nio.file.Files.createTempDirectory("graft_figs").toString
    val paths = Figures.writeFigures(cleanTable, dir)
    assert(paths.size === 5)
    val factory = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    paths.foreach { p =>
      assert(new java.io.File(p).length() > 0)
      // must parse as XML — broken escaping or unclosed tags fail here
      factory.newDocumentBuilder().parse(new java.io.File(p))
    }
    val byCity = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "temp_by_city.svg"))
    assert("<rect x=".r.findAllIn(byCity).size === 2) // one bar per city (+1 bg rect)
    assert(byCity.contains("london") && byCity.contains("tokyo"))
    val daily = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "daily_temp.svg"))
    assert("<polyline".r.findAllIn(daily).size === 2) // one series per city
    val scatter = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "temp_vs_humidity.svg"))
    assert("<circle".r.findAllIn(scatter).size === 5) // one dot per row
    assert(scatter.contains("<line"))                 // regression trend line
  }

  test("writeFigures is byte-deterministic and survives degenerate input") {
    val dir1 = java.nio.file.Files.createTempDirectory("graft_figs1").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft_figs2").toString
    Figures.writeFigures(cleanTable, dir1)
    Figures.writeFigures(cleanTable, dir2)
    for (name <- Seq("temp_by_city.svg", "daily_temp.svg", "temp_histogram.svg",
                     "conditions.svg", "temp_vs_humidity.svg")) {
      val a = java.nio.file.Files.readString(java.nio.file.Paths.get(dir1, name))
      val b = java.nio.file.Files.readString(java.nio.file.Paths.get(dir2, name))
      assert(a === b, s"$name not deterministic")
    }
    // constant-valued input: zero data span must not divide by zero
    val flat = Seq(("x", "Y", ts("2024-01-01 00:00:00"), 1.0, 1.0, "Clear"))
      .toDF("city", "country", "timestamp", "temperature", "humidity", "weather_condition")
    val dir3 = java.nio.file.Files.createTempDirectory("graft_figs3").toString
    val paths = Figures.writeFigures(flat, dir3)
    assert(paths.size === 5)
    paths.foreach(p => assert(!java.nio.file.Files.readString(
      java.nio.file.Paths.get(p)).contains("NaN")))
  }

  test("writeFigures on ZERO rows renders empty charts instead of crashing the load phase") {
    // min/max over no rows aggregate to null — a raw dir whose records are
    // all corrupt/filtered must not NPE the pipeline (the sink is on by
    // default in Pipeline.Config)
    val empty = cleanTable.filter("temperature > 1e9")
    val dir = java.nio.file.Files.createTempDirectory("graft_figs_empty").toString
    val paths = Figures.writeFigures(empty, dir)
    assert(paths.size === 5)
    val factory = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    paths.foreach(p => factory.newDocumentBuilder().parse(new java.io.File(p)))
  }

  test("writeFigures is byte-identical to the per-chart aggregation it replaces") {
    // SHA-256 of each SVG, recorded before the charts read the facts pass
    def flat = Seq(("x", "Y", ts("2024-01-01 00:00:00"), 1.0, 1.0, "Clear"))
      .toDF("city", "country", "timestamp", "temperature", "humidity", "weather_condition")
    val pinned = Seq(
      "table" -> (cleanTable, Map(
        "conditions.svg" -> "8759e08a3b08d8cc16a2493d458a0c01a01de5cfa457a3308e7cfddd8444b7de",
        "daily_temp.svg" -> "622c3e2e8ffc5ca97535d5edf002d7feff87683f66a29da89895ffba6ee27f4a",
        "temp_by_city.svg" -> "8079b91298db38fbf8a968dbbd314dbcd98758ddce388f0ef1b2722ead96aa38",
        "temp_histogram.svg" -> "5855efb4737cee625d7d746c9b77b90f40d0e0959efdd1b818d3e980d2776418",
        "temp_vs_humidity.svg" -> "e15444fc3d318734a453f1bc19ab89407e666dd73d921e51eecf10c267d1e794")),
      "constant single row" -> (flat, Map(
        "conditions.svg" -> "d15b735356d062d6306ff8028ae0d789e8edff09b1262c1053ca3bc6c6aa5b23",
        "daily_temp.svg" -> "c37d88a6014b20ea420cba3653b3f598897788a9b2c27e0e9a7353d6bc5d741f",
        "temp_by_city.svg" -> "07c31751abe245b183937a1046e71d2b3cc913c9c76ad915d2bb36664e4204f1",
        "temp_histogram.svg" -> "e4c0e36532fe9e619323853de5a798fe8535b88c90954e4171bb31b8fbe1010e",
        "temp_vs_humidity.svg" -> "db777abbffd9596347ccf7815fee5028e64783f69dfd81f73a2bcae79ad24369")),
      "zero rows" -> (cleanTable.filter("temperature > 1e9"), Map(
        "conditions.svg" -> "42f4252289caaa6e49c988fb1b26696a8bcdb5f9d2c8f10e4a4b7bd459fc898c",
        "daily_temp.svg" -> "ff2ace6d466780bb61ce333d0fd4affe7e634cc12bbc4a5758af347c4fa04b22",
        "temp_by_city.svg" -> "d167009855806d14d8a5bfe8bb4d7350b3db146bc050ceb2dd346651bc5768d7",
        "temp_histogram.svg" -> "a79231bbf43d2af2c8be4e37f5ef3684b4658b3a7a1f03cc6863bec7b166c197",
        "temp_vs_humidity.svg" -> "9ba19b3e47df9c576dc58eddfb9d34e9f97af25846e6352679e7849d47656e2a")))
    for ((frame, (df, shas)) <- pinned) {
      val dir = java.nio.file.Files.createTempDirectory("graft_figs_pin").toString
      Figures.writeFigures(df, dir)
      for ((name, sha) <- shas) {
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, name))
        val got = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
          .map("%02x".format(_)).mkString
        assert(got === sha, s"$frame: $name")
      }
    }
  }

  test("writeFigures leaves a cache the caller placed on the frame in place") {
    val df = cleanTable.cache()
    try {
      df.count()
      Figures.writeFigures(df, java.nio.file.Files.createTempDirectory("graft_figs_cached").toString)
      assert(df.storageLevel !== StorageLevel.NONE)
    } finally df.unpersist()
  }
}
