package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Commits, F1Pipeline, Ingest}

/** The paper's own pipeline with writes beside reads: a season of race
  * sessions ingested one by one into two committed tables, each followed
  * by the dashboard read of what was just committed.
  *
  * Set-up writes one raw session (telemetry + laps parquet) under the work
  * directory: 20 drivers × 50–64 seeded laps × `SamplesPerLap` telemetry
  * samples (about 684k rows, a race session's size). Op `i` ingests it
  * under its own seeded (year, event, session) key. An op:
  *  1. reads the raw files,
  *  2. runs `F1Pipeline.telemetrySummary` and `stintSummary`,
  *  3. stages both outputs and appends each to its `Commits` table (one
  *     version per session per table),
  *  4. reads the dashboard: `Commits.read` → key filter → `lapTimesView`
  *     → collect.
  * Ops run in passes of `ExportEvery` sessions; the first op of each pass
  * also exports the laps snapshot with `Ingest.writePartitioned` and reads
  * one earlier session back through a pruned `Ingest.readPartitioned`.
  * Steps 1–3 (and the export) are the op's write time; step 4 (and the
  * pruned read) its read latency.
  *
  * Checks, run after the op's timed part: the dashboard rows must equal
  * rows computed straight from the raw laps; at the end of each pass the
  * committed laps snapshot must hold exactly the rows staged so far; the
  * pruned read must return the chosen session's rows. */
final class F1Season(seed: Long, work: File) {
  import F1Season._

  private val rawDir = new File(work, "raw")
  private val tableDir = new File(work, "tables")
  private val exportDir = new File(work, "export")
  private val lapsTable = new File(tableDir, "laps").getPath
  private val stintsTable = new File(tableDir, "stints").getPath

  /** The raw laps, kept to check the dashboard against, and the raw bytes. */
  private var rawLaps = Seq.empty[Row]
  private var rawBytes = 0L

  private val rnd = new Random(seed)
  /** Distinct (year, event, session) keys in seeded order. */
  private val keys: IndexedSeq[(Int, String, String)] = rnd.shuffle(
    for (y <- 2018 to 2024; e <- Events; s <- Sessions) yield (y, e, s)).toIndexedSeq

  private var staged = 0L
  private var ingestedRawBytes = 0L
  private var exported = Seq.empty[Int]

  /** Write the raw session (part of set-up) and clear any table state. */
  def prepare(spark: SparkSession): Unit = {
    deleteTree(work)
    val (laps, bytes) = writeRaw(spark)
    rawLaps = laps
    rawBytes = bytes
    staged = 0L
    ingestedRawBytes = 0L
    exported = Seq.empty
  }

  private def writeRaw(spark: SparkSession): (Seq[Row], Long) = {
    val r = new Random(seed * 1000003L)
    val nLaps = 50 + r.nextInt(15)
    val laps = for (d <- Drivers; lap <- 1 to nLaps) yield {
      val stint = if (lap <= nLaps / 2 + r.nextInt(5)) 1 else 2
      // about 2% of laps have no time, as pit and red-flag laps do
      val lapTime: java.lang.Double =
        if (r.nextDouble() < 0.02) null
        else java.lang.Double.valueOf(85.0 + r.nextInt(15000) / 1000.0)
      Row(d, lap, lap * 95.0, lapTime, stint, Compounds(r.nextInt(Compounds.length)),
        r.nextDouble() >= 0.1)
    }
    spark.createDataFrame(java.util.Arrays.asList(laps: _*), LapSchema)
      .coalesce(1).write.parquet(new File(rawDir, "laps").getPath)
    val samples = Drivers.length.toLong * nLaps * SamplesPerLap
    def u(tag: Int) = (pmod(xxhash64(lit(seed), lit(tag), col("id")), lit(1000000L)) / 1e6)
    spark.range(samples)
      .select(
        element_at(typedLit(Drivers), (col("id") / (nLaps * SamplesPerLap)).cast("int") + 1)
          .as("Driver"),
        ((col("id") / SamplesPerLap) % nLaps + 1).cast("int").as("LapNumber"),
        (col("id") % SamplesPerLap).cast("double").as("SampleIdx"), col("id"))
      .withColumn("Time", col("LapNumber") * 95.0 + col("SampleIdx") * (95.0 / SamplesPerLap))
      .withColumn("Speed", lit(80.0) + u(1) * 260.0)
      .withColumn("RPM", lit(9000.0) + u(2) * 3000.0)
      .withColumn("Throttle", u(3) * 100.0)
      .withColumn("Brake", u(4) * 100.0)
      .withColumn("Gear", floor(u(5) * 8 + 1).cast("double"))
      .withColumn("DRS", floor(u(6) * 15).cast("int"))
      .withColumn("Distance", col("SampleIdx") * 55.0)
      .drop("SampleIdx", "id")
      .write.parquet(new File(rawDir, "telemetry").getPath)
    (laps, treeBytes(rawDir))
  }

  /** One ingest-then-read cycle for session `i`. */
  def runOp(spark: SparkSession, i: Int, tracer: Tracer): OpResult = {
    val (year, event, session) = keys(i % keys.length)
    val r = new Random(seed * 7919L + i)
    val selected = Drivers.filter(_ => r.nextDouble() < 0.3) match {
      case Seq() => Seq(Drivers(r.nextInt(Drivers.length)))
      case s => s
    }
    val t0 = System.nanoTime()
    val keyCols = Seq(lit(year).as("year"), lit(event).as("event"), lit(session).as("session"))
    val (lapsOut, stintsOut) = tracer.span("f1.build") {
      val (tel, laps) = tracer.span("f1.read_raw") {
        (spark.read.parquet(new File(rawDir, "telemetry").getPath),
          spark.read.parquet(new File(rawDir, "laps").getPath))
      }
      val (summary, stints) = tracer.span("engine.F1Pipeline.summaries") {
        (F1Pipeline.telemetrySummary(tel), F1Pipeline.stintSummary(laps))
      }
      (laps.join(summary, Seq("Driver", "LapNumber"), "left").select(col("*") +: keyCols: _*),
        stints.select(col("*") +: keyCols: _*))
    }
    var stageS, commitS = 0.0
    var rebases = 0
    def commit(df: DataFrame, table: String): Unit = {
      val s0 = System.nanoTime()
      val rel = tracer.span("engine.Commits.stage")(Commits.stage(df, table, s"s$i"))
      val s1 = System.nanoTime()
      tracer.span("engine.Commits.commit") {
        val base = Commits.latestVersion(table)
        if (base == 0) Commits.init(table, rel)
        else if (Commits.commitAppend(table, base, Seq(rel))._2) rebases += 1
      }
      stageS += (s1 - s0) / 1e9
      commitS += (System.nanoTime() - s1) / 1e9
    }
    commit(lapsOut, lapsTable)
    commit(stintsOut, stintsTable)
    var exportS = 0.0
    val export = i % ExportEvery == 0
    if (export) {
      val e0 = System.nanoTime()
      tracer.span("engine.Ingest.write") {
        Ingest.writePartitioned(Commits.read(spark, lapsTable), exportDir.getPath, "laps")
      }
      exportS = (System.nanoTime() - e0) / 1e9
      exported :+= i
    }
    val t1 = System.nanoTime()

    val dash = tracer.span("f1.dashboard") {
      val committed = tracer.span("engine.Commits.read")(Commits.read(spark, lapsTable))
      F1Pipeline.lapTimesView(
        committed.filter(col("year") === year && col("event") === event &&
          col("session") === session), selected, accurateOnly = true).collect().toSeq
    }
    val t2 = System.nanoTime()
    // the pruned read goes back to a seeded earlier exported session
    var prunedS = 0.0
    var pruned: Option[(Int, Long)] = None
    if (export) {
      val j = exported(r.nextInt(exported.length))
      val (py, pe, ps) = keys(j % keys.length)
      val p0 = System.nanoTime()
      val n = tracer.span("engine.Ingest.read_pruned") {
        Ingest.readPartitioned(spark, exportDir.getPath, "laps")
          .filter(col("year") === py && col("event") === pe && col("session") === ps)
          .collect().length.toLong
      }
      prunedS = (System.nanoTime() - p0) / 1e9
      pruned = Some((j, n))
    }
    val t3 = System.nanoTime()

    val snapshotFiles = Commits.snapshotFiles(lapsTable, Commits.latestVersion(lapsTable)).length
    val rawRows = rawLaps
    staged += rawRows.length
    ingestedRawBytes += rawBytes
    val got = dash.map(row => Seq(row.getString(0), row.getInt(1), row.getDouble(2),
      row.getInt(3), row.getString(4), row.getBoolean(5)))
    val stagedNow = staged
    def check(): Seq[String] = {
      val expected = rawRows
        .filter(row => row.get(3) != null && row.getDouble(3) > 0 && row.getBoolean(6) &&
          selected.contains(row.getString(0)))
        .sortBy(row => (row.getString(0), row.getInt(1)))
        .map(row => Seq(row.getString(0), row.getInt(1), row.getDouble(3), row.getInt(4),
          row.getString(5), row.getBoolean(6)))
      // the snapshot count costs a job, so it is checked once per pass
      val committedRows =
        if ((i + 1) % ExportEvery == 0) Commits.read(spark, lapsTable).count() else stagedNow
      Seq(
        Option.when(got != expected)(
          s"dashboard rows differ from the raw laps (${got.length} vs ${expected.length})"),
        Option.when(committedRows != stagedNow)(
          s"snapshot holds $committedRows rows, staged $stagedNow"),
        pruned.flatMap { case (j, n) =>
          val want = rawLaps.length
          Option.when(n != want)(s"pruned read of session $j returned $n rows, want $want")
        }).flatten
    }
    OpResult(s"session_$i", latency = (t3 - t1) / 1e9, write = (t1 - t0) / 1e9,
      op = (t3 - t0) / 1e9, check = () => check(),
      fields = Seq("dashboard_rows" -> got.length,
        "dashboard_s" -> (t2 - t1) / 1e9, "stage_s" -> stageS, "commit_s" -> commitS,
        "rebases" -> rebases, "snapshot_files" -> snapshotFiles,
        "export" -> export, "export_s" -> exportS, "read_pruned_s" -> prunedS))
  }

  /** Bytes under the committed tables (data and logs) and raw bytes ingested. */
  def storage: (Long, Long) =
    (treeBytes(new File(lapsTable)) + treeBytes(new File(stintsTable)), ingestedRawBytes)
}

object F1Season {
  val SamplesPerLap = 600
  val ExportEvery = 2
  val Drivers: Seq[String] = Seq("VER", "HAM", "LEC", "NOR", "SAI", "PER", "RUS",
    "ALO", "OCO", "GAS", "STR", "BOT", "ZHO", "MAG", "HUL", "TSU", "RIC", "ALB",
    "SAR", "PIA")
  val Events: Seq[String] = Seq("Bahrain", "Jeddah", "Melbourne", "Imola", "Miami",
    "Monaco", "Barcelona", "Montreal", "Silverstone", "Spielberg", "Budapest",
    "Spa", "Zandvoort", "Monza", "Singapore", "Suzuka", "Austin", "Mexico",
    "Interlagos", "Yas Marina")
  val Sessions: Seq[String] = Seq("FP1", "FP2", "FP3", "Q", "R")
  val Compounds: Seq[String] = Seq("SOFT", "MEDIUM", "HARD")

  val LapSchema: StructType = StructType(Seq(
    StructField("Driver", StringType), StructField("LapNumber", IntegerType),
    StructField("LapStartSeconds", DoubleType), StructField("LapTimeSeconds", DoubleType),
    StructField("Stint", IntegerType), StructField("Compound", StringType),
    StructField("IsAccurate", BooleanType)))

  def treeBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
