package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Deterministic OpenWeatherMap observation generator, shaped like
  * `graft.schema.WeatherSchema.owm`: nested `main`/`wind` structs, a
  * one-element `weather` array, epoch `dt` with an ISO
  * `extraction_timestamp`. Every value comes from one `SplittableRandom`
  * seeded by the command line, consumed in a fixed order, so the same seed
  * gives byte-identical output.
  *
  * Seeded dirt (shares of all records):
  *   - 0.1 % corrupt lines (the JSON text cut in half);
  *   - 0.5 % records missing one required key
  *     (main / wind / weather / city_name / country_code);
  *   - 1 % outliers (one numeric leaf far outside its range);
  *   - 2 % null leaves (one leaf written as `null`);
  *   - 1 % records without `dt`, whose time comes from the ISO field.
  * Corrupt and key-missing records are the only ones the pipeline drops.
  */
object OwmGen {

  final case class City(name: String, country: String, base: Double)

  /** The reference deployment's five configured cities. */
  val referenceCities: Seq[City] = Seq(
    City("New York", "US", 13.0), City("London", "GB", 11.0),
    City("Tokyo", "JP", 16.0), City("Sydney", "AU", 18.0),
    City("Berlin", "DE", 10.0))

  private val countries = Seq("US", "GB", "JP", "AU", "DE", "FR", "BR", "IN", "ZA", "CA")

  /** `n` cities: the reference five, then numbered stations. */
  def cities(n: Int): Seq[City] =
    if (n <= referenceCities.size) referenceCities.take(n)
    else referenceCities ++ (referenceCities.size until n).map { i =>
      City(f"Station $i%03d", countries(i % countries.size), 5.0 + (i * 7 % 20))
    }

  private val conditions = Seq(
    "Clear" -> "clear sky", "Clouds" -> "broken clouds", "Clouds" -> "few clouds",
    "Rain" -> "light rain", "Rain" -> "moderate rain", "Drizzle" -> "drizzle",
    "Mist" -> "mist", "Snow" -> "light snow", "Thunderstorm" -> "thunderstorm")

  /** How a record is written. */
  sealed trait Kind
  case object Clean extends Kind
  case object IsoTime extends Kind
  case object NullLeaf extends Kind
  case object Outlier extends Kind
  case object MissingKey extends Kind
  case object Corrupt extends Kind

  def kindOf(u: Double): Kind =
    if (u < 0.001) Corrupt
    else if (u < 0.006) MissingKey
    else if (u < 0.016) Outlier
    else if (u < 0.036) NullLeaf
    else if (u < 0.046) IsoTime
    else Clean

  /** Records the pipeline keeps (it drops corrupt and key-missing ones). */
  def valid(k: Kind): Boolean = k != Corrupt && k != MissingKey

  final case class Record(city: City, epoch: Long, kind: Kind, json: String)

  private def r2(d: Double): String = {
    val v = math.round(d * 100.0) / 100.0
    if (v == math.rint(v)) f"$v%.1f" else java.lang.Double.toString(v)
  }

  private val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** One observation of `city` at `epoch` (seconds, UTC). Draws a fixed
    * number of values from `rnd` whatever the kind, so one record's dirt
    * never shifts the values of the records after it.
    */
  def record(rnd: SplittableRandom, city: City, epoch: Long): Record = {
    val kind = kindOf(rnd.nextDouble())
    val day = epoch / 86400.0
    val hour = (epoch % 86400) / 3600.0
    val temp = city.base + 6.0 * math.sin((hour - 9.0) / 24.0 * 2 * math.Pi) +
      3.0 * math.sin(day / 11.0) + rnd.nextGaussian() * 1.5
    val feels = temp - 1.0 + rnd.nextGaussian() * 0.8
    val tmin = temp - 1.0 - rnd.nextDouble() * 2.0
    val tmax = temp + 1.0 + rnd.nextDouble() * 2.0
    val pressure = 1013.0 + rnd.nextGaussian() * 8.0
    val humidity = math.max(5.0, math.min(100.0, 65.0 + rnd.nextGaussian() * 15.0))
    val windSpeed = math.abs(4.0 + rnd.nextGaussian() * 2.5)
    val windDeg = rnd.nextDouble() * 360.0
    val (cond, desc) = conditions(rnd.nextInt(conditions.size))
    val pick = rnd.nextInt(10) // which leaf or key the dirt touches
    val extreme = 150.0 + rnd.nextDouble() * 300.0

    val leaves = Array(
      "temp" -> r2(temp), "feels_like" -> r2(feels), "temp_min" -> r2(tmin),
      "temp_max" -> r2(tmax), "pressure" -> r2(pressure), "humidity" -> r2(humidity),
      "speed" -> r2(windSpeed), "deg" -> r2(windDeg))
    kind match {
      case NullLeaf if pick < leaves.length => leaves(pick) = leaves(pick)._1 -> "null"
      case Outlier =>
        val i = pick % leaves.length
        leaves(i) = leaves(i)._1 -> r2(if (pick % 2 == 0) extreme else -extreme)
      case _ => ()
    }
    def leaf(i: Int) = "\"" + leaves(i)._1 + "\":" + leaves(i)._2
    val condJson =
      if (kind == NullLeaf && pick >= leaves.length) "{\"main\":null,\"description\":null}"
      else "{\"main\":\"" + cond + "\",\"description\":\"" + desc + "\"}"
    val missing = if (kind == MissingKey) pick % 5 else -1
    val parts = Seq(
      if (kind == IsoTime) None else Some("\"dt\":" + epoch),
      Some("\"extraction_timestamp\":\"" +
        iso.format(java.time.LocalDateTime.ofEpochSecond(epoch, 0, java.time.ZoneOffset.UTC)) + "\""),
      if (missing == 0) None else Some("\"city_name\":\"" + city.name + "\""),
      if (missing == 1) None else Some("\"country_code\":\"" + city.country + "\""),
      if (missing == 2) None else Some("\"main\":{" + (0 until 6).map(leaf).mkString(",") + "}"),
      if (missing == 3) None else Some("\"wind\":{" + leaf(6) + "," + leaf(7) + "}"),
      if (missing == 4) None else Some("\"weather\":[" + condJson + "]")).flatten
    val json = parts.mkString("{", ",", "}")
    Record(city, epoch, kind, if (kind == Corrupt) json.substring(0, json.length / 2) else json)
  }

  /** Shape of a batch input: `cities` polled every `pollSeconds` for `days`
    * days from 2025-01-01 00:00 UTC, one JSON-lines file per day.
    */
  final case class BatchShape(cities: Int, pollSeconds: Int, days: Int) {
    def polls: Int = days * 86400 / pollSeconds
    def rows: Long = polls.toLong * cities
  }

  val startEpoch: Long = 1735689600L // 2025-01-01T00:00:00Z

  final case class BatchInput(dir: Path, rows: Long, validRows: Long,
                              bytes: Long, sha256: String)

  /** Write `shape` under `dir` (created fresh). */
  def writeBatch(seed: Long, shape: BatchShape, dir: Path): BatchInput = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val cs = cities(shape.cities)
    val sha = MessageDigest.getInstance("SHA-256")
    var rows, kept, bytes = 0L
    val pollsPerDay = 86400 / shape.pollSeconds
    for (d <- 0 until shape.days) {
      val sb = new java.lang.StringBuilder(pollsPerDay * cs.size * 340)
      for (p <- 0 until pollsPerDay; c <- cs) {
        val r = record(rnd, c, startEpoch + d * 86400L + p.toLong * shape.pollSeconds)
        sb.append(r.json).append('\n')
        rows += 1
        if (valid(r.kind)) kept += 1
      }
      val data = sb.toString.getBytes(UTF_8)
      sha.update(data)
      bytes += data.length
      Files.write(dir.resolve(f"owm_day$d%03d.json"), data)
    }
    BatchInput(dir, rows, kept, bytes, sha.digest().map("%02x".format(_)).mkString)
  }
}
