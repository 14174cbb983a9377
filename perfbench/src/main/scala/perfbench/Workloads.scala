package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.Graft

/** Registered operator queries over a generated star schema: a fixed
  * family-stratified slice of `SparkEntry`, one cold pass in registry order
  * and [[QuerySuite.SettlePasses]] settle passes as set-up, then measured
  * passes in a seeded order. Each op builds the query through its `Q`
  * function and runs it into Spark's noop sink.
  */
final class QuerySuite extends Workload {
  import QuerySuite._

  val minPasses = 4
  private var dir = ""
  private val slice = QuerySuite.slice(K)
  private var coldGrowNs = 0L
  private var starRows = Seq.empty[(String, Long)]

  private def frames(): Int = graft.Caches.levels().size

  private def runQuery(r: Runner, q: graft.Q, family: String): Unit = {
    val df = r.tr.span("q.build", "Q")(q.fn(r.spark, dir))
    r.tr.span(s"op.$family", "operators")(df.write.format("noop").mode("overwrite").save())
  }

  private def runPass(r: Runner, phase: String, p: Int, order: Seq[(graft.Q, String)]): PassRec =
    r.pass(phase, p) {
      order.zipWithIndex.map { case ((q, fam), i) => r.op(phase, p, i, q.name, fam)(runQuery(r, q, fam)) }
    }

  def setup(r: Runner): Unit = {
    // kept after the run (under the output directory, not the per-process
    // work directory) so the DuckDB oracle can be run over the same data
    dir = r.out.resolve("star").toString
    starRows = r.tr.span("gen.star", "bench")(StarGen.write(r.spark, dir, DataSeed, Sf))
    r.setupPasses += r.pass("cold", 0) {
      slice.zipWithIndex.map { case ((q, fam), i) =>
        val before = frames()
        val rec = r.op("cold", 0, i, q.name, fam)(runQuery(r, q, fam))
        if (frames() > before) coldGrowNs += rec.wallNs
        rec
      }
    }
    for (s <- 0 until SettlePasses) r.setupPasses += runPass(r, "settle", s, slice)
  }

  def pass(r: Runner, phase: String, p: Int): PassRec =
    runPass(r, phase, p, r.seeded(p).shuffle(slice))

  def check(r: Runner, measured: Seq[PassRec]): Seq[String] = {
    val got = slice.map { case (q, fam) => (q.name, fam, Digest.of(q.fn(r.spark, dir)).render) }
    val file = r.expectedDir.resolve(ExpectedFile)
    val want = if (!Files.exists(file)) Map.empty[String, String] else
      Files.readAllLines(file).asScala.filterNot(_.startsWith("#"))
        .map(_.split('\t')).map(a => a(0) -> a(2)).toMap
    // a failure prints the digest got, so a file re-taken after the oracle
    // has agreed again can be filled in from it by hand
    got.flatMap { case (n, fam, d) =>
      want.get(n) match {
        case None => Some(s"$n ($fam): digest $d, none expected in $ExpectedFile")
        case Some(w) if w != d => Some(s"$n ($fam): digest $d, expected $w")
        case _ => None
      }
    }
  }

  def extras(r: Runner, measured: Seq[PassRec]): Map[String, (Double, String)] = {
    val storage = r.spark.sparkContext.getRDDStorageInfo
    Map(
      "cached_mb" -> (storage.map(_.memSize).sum / 1e6, "MB"),
      "caches.frames" -> (frames().toDouble, "count"),
      "caches.mb" -> (graft.Caches.bytes().map(_._2).sum / 1e6, "MB"),
      "caches.cold_s" -> (coldGrowNs / 1e9, "s"),
      "input.rows" -> (starRows.map(_._2).sum.toDouble, "rows"),
      "input.queries" -> (slice.length.toDouble, "count"))
  }
}

object QuerySuite {
  /** Every K-th query by name within each operator family. */
  val K = 38
  val SettlePasses = 3
  val Sf = 0.01
  val DataSeed = 42L
  val ExpectedFile = "query_suite.tsv"

  val Families: Seq[(String, Seq[graft.Q])] = {
    import graft.operators._
    Seq("Aggregates" -> Aggregates.entries, "Joins" -> Joins.entries,
      "Windows" -> Windows.entries, "Stats" -> Stats.entries,
      "Scalars" -> Scalars.entries, "TextOps" -> TextOps.entries,
      "Sampling" -> Sampling.entries, "Dedup" -> Dedup.entries,
      "Curation" -> Curation.entries, "Similarity" -> Similarity.entries,
      "Multimodal" -> Multimodal.entries)
  }

  /** The slice in registry order, each query with its family. */
  def slice(k: Int): Seq[(graft.Q, String)] = {
    val chosen = Families.flatMap { case (fam, qs) =>
      qs.sortBy(_.name).zipWithIndex.collect { case (q, i) if i % k == 0 => q.name -> fam }
    }.toMap
    graft.SparkEntry.all.flatMap(q => chosen.get(q.name).map(q -> _))
  }
}

/** A Garmin corpus loaded to silver at set-up through the bronze readers,
  * the silver writer and the catch-up stream; measured passes repeat one call per
  * `graft.api.Graft` family, with seeded arguments that favour recent
  * activities.
  */
final class ApiServe extends Workload {
  import ApiServe._

  val minPasses = 3
  private var acts = Seq.empty[GarminGen.Activity]
  private var calls = Seq.empty[Call]
  private var bronzeBytes = 0L
  private var silver = ""
  private var stream: Path = _
  private var landing: OpRec = _
  private var ingestNs = 0L

  def setup(r: Runner): Unit = {
    acts = GarminGen.plan(r.seed, Activities)
    val bronze = r.work.resolve("bronze")
    silver = r.work.resolve("silver").toString
    stream = r.work.resolve("stream")
    bronzeBytes = r.tr.span("gen.corpus", "bench")(GarminGen.writeCorpus(bronze, r.seed, acts))
    val g = new Graft(r.spark, silver)
    val ingest = r.pass("ingest", 0) {
      Seq(r.op("ingest", 0, 0, "load", "ingest") {
        Ingest.load(r.spark, r.tr, bronze.toString, silver)
        ingestNs = System.nanoTime()
        val fresh = r.tr.span("api.bulkActivityFields", "api") {
          g.bulkActivityFields(acts.map(_.id), Seq("activity_date")).collect()
        }
        val freshNs = System.nanoTime()
        Ingest.catchUp(r.spark, r.tr, graft.sources.GarminJson.readSplits(r.spark, bronze.toString),
          stream.resolve("landing").toString, stream.resolve("checkpoint").toString,
          stream.resolve("out").toString)
        (fresh, freshNs)
      })
    }
    r.setupPasses += ingest
    landing = ingest.ops.head
    ingestNs -= landing.startNs
    val wellness = GarminGen.wellnessRows(r.seed, acts)
    GarminGen.wellness(r.spark, wellness).write.parquet(s"$silver/daily_wellness")
    calls = plan(g, acts, GarminGen.recoveryStatus(wellness), r.seeded(1))
    for (s <- 0 until SettlePasses) r.setupPasses += pass(r, "settle", s)
  }

  def pass(r: Runner, phase: String, p: Int): PassRec = r.pass(phase, p) {
    calls.zipWithIndex.map { case (c, i) => r.op(phase, p, i, c.name, c.family)(c.run()) }
  }

  /** Silver rows one activity puts in each table. */
  private def silverRows(t: String, a: GarminGen.Activity): Long = t match {
    case "splits" => a.laps
    case "time_series_metrics" => a.samples
    case _ => 1
  }

  def check(r: Runner, measured: Seq[PassRec]): Seq[String] = {
    val perCall = measured.flatMap(_.ops).filter(_.ok).flatMap { o =>
      calls(o.idx).check(o.result).map(m => s"pass ${o.pass} ${o.name}: $m")
    }.distinct
    val ingest = if (!landing.ok) Seq("ingest failed") else {
      val ids = landing.result.asInstanceOf[(Array[Row], Long)]._1.map(_.getAs[Long]("activity_id")).sorted.toSeq
      (if (ids == acts.map(_.id)) Nil else Seq(s"API read after ingest saw ${ids.length} of ${acts.length} activities")) ++
      Ingest.SilverTableNames.flatMap { t =>
        val (got, want) = (r.spark.read.parquet(s"$silver/$t").count(), acts.map(silverRows(t, _)).sum)
        if (got == want) None else Some(s"silver $t has $got rows, expected $want")
      } ++ {
        val (got, want) = (r.spark.read.parquet(stream.resolve("out").toString).count(), acts.map(_.laps.toLong).sum)
        if (got == want) None else Some(s"catch-up output has $got rows, expected $want")
      }
    }
    perCall ++ ingest
  }

  def extras(r: Runner, measured: Seq[PassRec]): Map[String, (Double, String)] = {
    val files = Files.walk(Path.of(silver)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val silverBytes = files.map(Files.size).sum.toDouble
    val rows = Ingest.SilverTableNames.map(t => acts.map(silverRows(t, _)).sum).sum
    Map(
      "rows_per_s" -> (rows / (ingestNs / 1e9), "rows/s"),
      "fresh_ms" -> ((landing.result.asInstanceOf[(Array[Row], Long)]._2 - landing.startNs) / 1e6, "ms"),
      "space_amp" -> (silverBytes / bronzeBytes, "ratio"),
      "ingest.files_written" -> (files.count(_.toString.endsWith(".parquet")).toDouble, "count"),
      "ingest.bytes_written" -> (silverBytes / 1e6, "MB"),
      "input.activities" -> (acts.length.toDouble, "count"),
      "input.samples" -> (acts.map(_.samples).sum.toDouble, "rows"),
      "input.bronze_mb" -> (bronzeBytes / 1e6, "MB"))
  }
}

object ApiServe {
  val Activities = 48
  val SettlePasses = 2

  final case class Call(family: String, name: String, run: () => Any, check: Any => Option[String])

  private def rows(x: Any): Seq[Row] = x.asInstanceOf[Array[Row]].toSeq
  private def expect(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)

  /** The fixed call sequence of one run: one call per façade family, in
    * this order, with arguments drawn from `rng`.
    */
  def plan(g: Graft, acts: Seq[GarminGen.Activity], status: String,
      rng: scala.util.Random): Seq[Call] = {
    val n = acts.length
    def recent(): GarminGen.Activity = acts(n - 1 - (n * math.pow(rng.nextDouble(), 3)).toInt)
    def collect(df: => DataFrame): () => Any = () => df.collect()
    val a1, a2, a3, a4 = recent()
    val hi = n - 1 - (n / 2 * math.pow(rng.nextDouble(), 2)).toInt
    val window = acts.slice(math.max(0, hi - 20 - rng.nextInt(20)), hi + 1)
    val (from, until) = (rng.nextInt(a4.samples / 2), 60 + rng.nextInt(600))
    val metric = Seq("heart_rate", "speed", "cadence")(rng.nextInt(3))
    Seq(
      Call("splits", "splits.paceHr", collect(g.splits.paceHr(a1.id)),
        x => expect(rows(x).length == a1.laps, s"${rows(x).length} laps, expected ${a1.laps}")),
      Call("trainingLoad", "trainingLoad.acwr", collect(g.trainingLoad.acwr()),
        x => expect(rows(x).length == n, s"${rows(x).length} days, expected $n")),
      Call("physiology", "physiology.recoveryStatus", () => g.physiology.recoveryStatus(),
        x => expect(x == status, s"status $x, expected $status")),
      Call("trends", "trends.weeklyVolume", collect(g.trends.weeklyVolume()),
        x => { val (got, want) = (rows(x).map(_.getAs[Double]("load_km")).sum, acts.map(_.distanceKm).sum)
          expect(math.abs(got - want) < 1e-6 * want, s"weekly km $got, expected $want") }),
      Call("comparisons", "comparisons.findSimilarWorkouts", collect(g.comparisons.findSimilarWorkouts(a2.id)),
        x => { val ids = rows(x).map(_.getAs[Long]("activity_id"))
          expect(ids.length <= 10 && !ids.contains(a2.id) && ids.forall(i => acts.exists(_.id == i)),
            s"similar ids $ids") }),
      Call("durability", "durability.activityDurability", collect(g.durability.activityDurability(a3.id)),
        x => expect(rows(x).map(_.getAs[Long]("activity_id")) == Seq(a3.id), s"${rows(x).length} durability rows")),
      Call("heat", "heat.heatTrend",
        collect(g.heat.heatTrend(window.head.date.toString, window.last.date.toString)),
        x => expect(rows(x).length == 1, s"${rows(x).length} heat-trend rows, expected 1")),
      Call("timeSeries", "timeSeries.timeRangeStats",
        collect(g.timeSeries.timeRangeStats(a4.id, from, from + until, metric)),
        x => { val want = math.min(from + until, a4.samples) - from
          expect(rows(x).map(_.getAs[Long]("n_rows")) == Seq(want.toLong), s"range rows != $want") }))
  }
}
