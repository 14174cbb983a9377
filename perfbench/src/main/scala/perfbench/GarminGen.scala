package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of a bronze Garmin-JSON corpus in the shapes the
  * engine's `sources.GarminJson` readers take: one directory per activity
  * under `activity/<id>/` holding activity.json, splits.json, hr_zones.json,
  * weather.json and activity_details.json (a 1 Hz time series). Equal seeds
  * give byte-identical files. The returned [[Activity]] records are the
  * ground truth the output checks compare against.
  */
object GarminGen {

  /** What the generator knows about one activity. Every sample carries
    * heart rate and speed, so every activity has a durability row.
    */
  final case class Activity(id: Long, date: LocalDate, distanceKm: Double,
      durationS: Int, laps: Int, samples: Int, label: String)

  val FirstId = 20000000000L
  val LastDate: LocalDate = LocalDate.of(2026, 6, 30)
  private val Labels = Seq("AEROBIC_BASE", "TEMPO", "THRESHOLD", "VO2MAX",
    "RECOVERY", "AEROBIC_BASE", "AEROBIC_BASE")
  private val Compass = Seq("N", "NE", "E", "SE", "S", "SW", "W", "NW")
  private val Metrics = Seq(
    ("directHeartRate", "bpm"), ("directSpeed", "mps"),
    ("directDoubleCadence", "stepsPerMinute"), ("directPower", "watt"),
    ("directGroundContactTime", "ms"), ("directVerticalOscillation", "centimeter"),
    ("directVerticalRatio", "percent"), ("directElevation", "meter"),
    ("directAirTemperature", "celcius"), ("sumDuration", "second"),
    ("sumDistance", "meter"))

  /** Fixed-point decimal append (no locale, no float formatting cost). */
  private def num(sb: java.lang.StringBuilder, x: Double, decimals: Int): Unit = {
    val scale = math.pow(10, decimals)
    val v = math.round(x * scale)
    if (v < 0) sb.append('-')
    val a = math.abs(v)
    sb.append(a / scale.toLong)
    if (decimals > 0) {
      sb.append('.')
      val frac = (a % scale.toLong).toString
      var pad = decimals - frac.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(frac)
    }
  }

  private def write(dir: Path, name: String, sb: java.lang.StringBuilder): Long = {
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(dir.resolve(name), bytes)
    bytes.length.toLong
  }

  /** The `n` activities of a corpus (no files written). Activity i's date
    * steps back from [[LastDate]] by one or two days per activity.
    */
  def plan(seed: Long, n: Int): Seq[Activity] = {
    val r = new SplittableRandom(seed)
    val gaps = Seq.fill(n)(1 + r.nextInt(2))
    val dates = gaps.scanRight(LastDate)((g, d) => d.minusDays(g)).tail
    (0 until n).map { i =>
      val long = r.nextInt(5) == 0
      val km = if (long) 10.0 + r.nextInt(41) / 10.0 else 3.0 + r.nextInt(51) / 10.0
      val speed = 2.7 + r.nextInt(90) / 100.0
      val dur = math.round(km * 1000.0 / speed).toInt
      Activity(FirstId + i, dates(i), km, dur, math.ceil(km).toInt, dur,
        Labels(r.nextInt(Labels.length)))
    }
  }

  /** Write the corpus for `acts` under `root/activity/<id>/`; returns the
    * bytes written. File content depends only on (seed, activity).
    */
  def writeCorpus(root: Path, seed: Long, acts: Seq[Activity]): Long =
    acts.map(a => writeActivity(root, new SplittableRandom(seed ^ (a.id * 0x9E3779B97F4A7C15L)), a)).sum

  private def writeActivity(root: Path, r: SplittableRandom, a: Activity): Long = {
    val dir = Files.createDirectories(root.resolve("activity").resolve(a.id.toString))
    val speed = a.distanceKm * 1000.0 / a.durationS
    val baseHr = 130.0 + r.nextInt(25)
    val tempF = 40.0 + r.nextInt(50)
    val interval = a.label == "VO2MAX" || a.label == "THRESHOLD"
    var bytes = 0L

    var sb = new java.lang.StringBuilder(1024)
    sb.append("{\"activityId\": ").append(a.id)
      .append(", \"activityName\": \"Run ").append(a.date).append('"')
      .append(", \"activityTypeDTO\": {\"typeId\": 1, \"typeKey\": \"running\", \"parentTypeId\": 17}")
      .append(", \"locationName\": \"Tokyo\", \"summaryDTO\": {\"distance\": ")
    num(sb, a.distanceKm * 1000.0, 1); sb.append(", \"duration\": ").append(a.durationS)
    sb.append(", \"averageSpeed\": "); num(sb, speed, 3)
    sb.append(", \"averageHR\": "); num(sb, baseHr + 5, 0)
    sb.append(", \"maxHR\": "); num(sb, baseHr + 25, 0)
    sb.append(", \"minHR\": "); num(sb, baseHr - 30, 0)
    sb.append(", \"startTimeLocal\": \"").append(a.date).append(" 07:00:00\"")
      .append(", \"startTimeGMT\": \"").append(a.date.minusDays(1)).append(" 22:00:00\"")
      .append(", \"trainingEffectLabel\": \"").append(a.label).append("\"}}")
    bytes += write(dir, "activity.json", sb)

    sb = new java.lang.StringBuilder(4096)
    sb.append("{\"activityId\": ").append(a.id).append(", \"lapDTOs\": [")
    val lapDist = a.distanceKm * 1000.0 / a.laps
    for (l <- 1 to a.laps) {
      val phase =
        if (!interval) (if (l % 3 == 0) None else Some("ACTIVE"))
        else if (l == 1) Some("WARMUP") else if (l == a.laps) Some("COOLDOWN")
        else if (l % 2 == 0) Some("INTERVAL") else Some("RECOVERY")
      val ls = speed * (if (phase.contains("INTERVAL")) 1.12 else if (phase.contains("RECOVERY")) 0.85 else 1.0) *
        (0.97 + r.nextInt(7) / 100.0)
      if (l > 1) sb.append(", ")
      sb.append("{\"lapIndex\": ").append(l)
      phase.foreach(p => sb.append(", \"intensityType\": \"").append(p).append('"'))
      sb.append(", \"distance\": "); num(sb, lapDist, 1)
      sb.append(", \"duration\": "); num(sb, lapDist / ls, 1)
      sb.append(", \"startTimeGMT\": \"").append(a.date.minusDays(1)).append(" 22:00:00\"")
      sb.append(", \"averageSpeed\": "); num(sb, ls, 3)
      sb.append(", \"avgGradeAdjustedSpeed\": "); num(sb, ls * 1.01, 3)
      sb.append(", \"averageHR\": "); num(sb, baseHr + l * 0.8 + r.nextInt(5), 0)
      sb.append(", \"maxHR\": "); num(sb, baseHr + l * 0.8 + 10 + r.nextInt(5), 0)
      sb.append(", \"averageRunCadence\": "); num(sb, 170 + r.nextInt(15), 1)
      sb.append(", \"maxRunCadence\": "); num(sb, 186 + r.nextInt(6), 1)
      sb.append(", \"averagePower\": "); num(sb, 220 + r.nextInt(60), 1)
      sb.append(", \"maxPower\": "); num(sb, 290 + r.nextInt(40), 1)
      sb.append(", \"normalizedPower\": "); num(sb, 230 + r.nextInt(50), 1)
      sb.append(", \"strideLength\": "); num(sb, 90 + r.nextInt(25), 1)
      sb.append(", \"groundContactTime\": "); num(sb, 235 + r.nextInt(35), 1)
      sb.append(", \"verticalOscillation\": "); num(sb, 7.5 + r.nextInt(20) / 10.0, 1)
      sb.append(", \"verticalRatio\": "); num(sb, 7.0 + r.nextInt(20) / 10.0, 1)
      sb.append(", \"elevationGain\": "); num(sb, r.nextInt(12), 1)
      sb.append(", \"elevationLoss\": "); num(sb, r.nextInt(12), 1)
      sb.append('}')
    }
    sb.append("]}")
    bytes += write(dir, "splits.json", sb)

    sb = new java.lang.StringBuilder(512)
    val shares = Array.fill(5)(1 + r.nextInt(10))
    sb.append('[')
    for (z <- 1 to 5) {
      if (z > 1) sb.append(", ")
      sb.append("{\"zoneNumber\": ").append(z)
        .append(", \"zoneLowBoundary\": ").append(97 + 20 * (z - 1))
        .append(", \"secsInZone\": ")
      num(sb, a.durationS.toDouble * shares(z - 1) / shares.sum, 1)
      sb.append('}')
    }
    sb.append(']')
    bytes += write(dir, "hr_zones.json", sb)

    sb = new java.lang.StringBuilder(256)
    sb.append("{\"temp\": "); num(sb, tempF, 0)
    sb.append(", \"apparentTemp\": "); num(sb, tempF - 3, 0)
    sb.append(", \"dewPoint\": "); num(sb, tempF - 12, 0)
    sb.append(", \"relativeHumidity\": ").append(30 + r.nextInt(60))
    sb.append(", \"windSpeed\": ").append(r.nextInt(25))
    sb.append(", \"windDirection\": ").append(r.nextInt(360))
    sb.append(", \"windDirectionCompassPoint\": \"").append(Compass(r.nextInt(8)))
      .append("\", \"weatherStationDTO\": {\"id\": \"RJTT\", \"name\": \"Tokyo International Airport\"}}")
    bytes += write(dir, "weather.json", sb)

    sb = new java.lang.StringBuilder(a.samples * 64 + 1024)
    sb.append("{\"activityId\": ").append(a.id)
      .append(", \"measurementCount\": ").append(a.samples)
      .append(", \"metricsCount\": ").append(Metrics.length)
      .append(", \"metricDescriptors\": [")
    for (((key, unit), i) <- Metrics.zipWithIndex) {
      if (i > 0) sb.append(", ")
      sb.append("{\"metricsIndex\": ").append(i).append(", \"key\": \"").append(key)
        .append("\", \"unit\": {\"id\": ").append(100 + i).append(", \"key\": \"")
        .append(unit).append("\", \"factor\": 1.0}}")
    }
    sb.append("], \"activityDetailMetrics\": [")
    val tempC = (tempF - 32.0) * 5.0 / 9.0
    var elev = 20.0 + r.nextInt(40)
    var dist = 0.0
    for (t <- 0 until a.samples) {
      val frac = t.toDouble / a.samples
      val sp = speed * (0.94 + r.nextInt(13) / 100.0)
      dist += sp
      elev += (r.nextInt(5) - 2) * 0.1
      if (t > 0) sb.append(", ")
      sb.append("{\"metrics\": [")
      num(sb, baseHr - 10 + 25 * frac + r.nextInt(5), 0); sb.append(", ")
      num(sb, sp, 2); sb.append(", ")
      num(sb, 170 + r.nextInt(16), 0); sb.append(", ")
      num(sb, 220 + r.nextInt(60), 0); sb.append(", ")
      num(sb, 240 + 12 * frac + r.nextInt(20), 0); sb.append(", ")
      num(sb, 8.0 + 0.4 * frac + r.nextInt(10) / 10.0, 1); sb.append(", ")
      num(sb, 7.5 + r.nextInt(10) / 10.0, 1); sb.append(", ")
      num(sb, elev, 1); sb.append(", ")
      num(sb, tempC + r.nextInt(3) - 1, 1); sb.append(", ")
      sb.append(t).append(", ")
      num(sb, dist, 1)
      sb.append("]}")
    }
    sb.append("]}")
    bytes += write(dir, "activity_details.json", sb)
    bytes
  }

  /** One daily_wellness row per day from the first activity's date to the
    * last: (date, resting_hr, hrv_overnight, hrv_baseline_low, readiness,
    * sleep_score). Readiness and sleep score never fall below 50.
    */
  def wellnessRows(seed: Long, acts: Seq[Activity]): Seq[Row] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val first = acts.map(_.date.toEpochDay).min
    val last = acts.map(_.date.toEpochDay).max
    (first to last).map { d =>
      Row(java.sql.Date.valueOf(LocalDate.ofEpochDay(d)), 45.0 + r.nextInt(8),
        40.0 + r.nextInt(25), 45.0, 60 + r.nextInt(40), 55 + r.nextInt(40))
    }
  }

  /** The rows as the silver table the physiology tools read. */
  def wellness(spark: SparkSession, rows: Seq[Row]): DataFrame = {
    val schema = StructType(Seq(StructField("date", DateType),
      StructField("resting_hr", DoubleType), StructField("hrv_overnight", DoubleType),
      StructField("hrv_baseline_low", DoubleType), StructField("readiness", IntegerType),
      StructField("sleep_score", IntegerType)))
    graft.Schemas.conform(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      "daily_wellness")
  }

  /** The recovery status the rows call for: "easy" after two or more
    * nights in a row with HRV below its baseline, else "quality" when the
    * last readiness is 75 or more, else "moderate" (readiness and sleep
    * never fall below 50 here, so "rest" cannot occur).
    */
  def recoveryStatus(rows: Seq[Row]): String = {
    val under = rows.reverseIterator.takeWhile(w => w.getDouble(2) < w.getDouble(3)).length >= 2
    if (under) "easy" else if (rows.last.getInt(4) >= 75) "quality" else "moderate"
  }
}
