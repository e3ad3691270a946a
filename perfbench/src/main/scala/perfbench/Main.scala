package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The result of one op, in seconds: `latency` is what the op's reader
  * waits for, `write` the time to its sink, `op` the whole measured op.
  * `check` runs after the op's span has closed and returns the problems
  * it finds; `fields` are workload-specific extras, written as they are. */
final case class OpResult(name: String, latency: Double, write: Double, op: Double,
                          check: () => Seq[String] = () => Nil,
                          fields: Seq[(String, Any)] = Nil)

/** The benchmark's JVM side: one workload, one closed-loop client.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --data SF_DIR
  *      --cpus C --work DIR --out RESULT.json [--trace-out TRACE.json]
  *      [--queries a,b,c|full]
  * }}}
  *
  * Phases: one set-up (a fresh session, the workload's inputs, one warm-up
  * job), timed from JVM start; a cold pass (pass 0); then a fixed number
  * of warm passes, sized from S (see `passes`). After every op the storage
  * still held by cached or checkpointed blocks is read, then freed. Raw
  * per-op records go to the result file; the caller computes the
  * metrics. */
object Main {
  /** Nominal seconds of one warm pass per workload, on 4 cores. A run makes
    * `round(S / passSeconds)` warm passes (at least one) whatever the host's
    * speed, so every run of a workload does the same work: in `f1_season`
    * a faster change cannot add a pass, and with it a larger snapshot to
    * read. */
  val passSeconds: Map[String, Double] = Map(
    "relational" -> 6.0, "iterative" -> 45.0, "text_dedup" -> 4.0, "f1_season" -> 4.0)

  def passes(workload: String, seconds: Double): Int =
    math.max(1, math.round(seconds / passSeconds(workload)).toInt)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val tracer = new Tracer(args("trace") == "1")
    val sfDir = args("data")
    val work = new File(args("work"))
    val cpus = args.getOrElse("cpus", "4")

    val catalog = workload != "f1_season"
    val queries: Seq[String] = args.get("queries") match {
      case Some("full") => Catalog.full(workload)
      case Some(list) => list.split(",").toSeq.filter(_.nonEmpty)
      case None if catalog => Catalog.subsets(workload)
      case None => Nil
    }
    require(!catalog || queries.nonEmpty, s"no queries for workload $workload")
    val season = if (catalog) None else Some(new F1Season(seed, new File(work, "season")))

    // -- set-up, timed from JVM start: class loading, the first session, the
    // workload's inputs and one warm-up job --
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, new File(work, "spark-local"))
    season.foreach(_.prepare(spark))
    spark.range(1).write.format("noop").mode("overwrite").save()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    tracer.attach(spark)

    val records = mutable.ArrayBuffer.empty[Json.Obj]
    var peakRetainedBytes = 0L
    val sc = spark.sparkContext

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    /** Run one op under its span, record it, then free what it left. */
    def op(phase: String, pass: Int, name: String)(body: => OpResult): Unit = {
      def describe(e: Throwable) =
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      val gc0 = gcMs(); val cg0 = compiles()
      val start = tracer.now()
      val t0 = System.nanoTime()
      val (res, thrown) =
        try (tracer.span("op", "op" -> name, "phase" -> phase, "pass" -> pass)(body), None)
        catch { case e: Throwable =>
          val wall = (System.nanoTime() - t0) / 1e9
          (OpResult(name, Double.NaN, Double.NaN, wall), Some(describe(e)))
        }
      val gcS = (gcMs() - gc0) / 1e3
      val cg = compiles() - cg0
      tracer.drain()
      val errors = thrown.toSeq ++
        (try res.check() catch { case e: Throwable => Seq("check failed: " + describe(e)) })
      val retained = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      peakRetainedBytes = math.max(peakRetainedBytes, retained)
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      if (errors.nonEmpty) System.err.println(s"[perfbench] FAILED $name: ${errors.mkString("; ")}")
      records += Json.Obj(Seq(
        "name" -> name, "phase" -> phase, "pass" -> pass, "start" -> start,
        "latency_s" -> res.latency, "write_s" -> res.write, "op_s" -> res.op,
        "ok" -> errors.isEmpty, "error" -> errors.mkString("; "), "gc_s" -> gcS,
        "codegen_compiles" -> cg, "retained_bytes" -> retained) ++ res.fields)
    }

    // A traced catalog pass starts with a direct `Tables.load` call per
    // table, outside every op, so the loader is timed on its own.
    def layerProbe(pass: Int): Unit = if (tracer.enabled && catalog) {
      tracer.span("layer_probe", "pass" -> pass)(Catalog.loadTables(spark, sfDir, tracer))
      tracer.drain()
    }

    // A pass: the catalog subset in a seeded order, or one f1_season cycle
    // of sessions, which holds exactly one export.
    def runPass(phase: String, pass: Int): Unit = {
      layerProbe(pass)
      season match {
        case None =>
          val order = new Random(seed * 31L + pass).shuffle(queries)
          order.foreach(q => op(phase, pass, q)(Catalog.runOp(spark, sfDir, q, tracer)))
        case Some(s) =>
          for (i <- pass * F1Season.ExportEvery until (pass + 1) * F1Season.ExportEvery)
            op(phase, pass, s"session_$i")(s.runOp(spark, i, tracer))
      }
    }

    // -- cold pass: every op once in the fresh session --
    val c0 = System.nanoTime()
    runPass("cold", 0)
    val coldWall = (System.nanoTime() - c0) / 1e9

    // -- warm passes: a fixed number of whole passes, so every run samples
    // each op kind equally often --
    val nPasses = passes(workload, seconds)
    val w0 = System.nanoTime()
    (1 to nPasses).foreach(p => runPass("warm", p))
    val windowWall = (System.nanoTime() - w0) / 1e9

    val storage = season.map { s =>
      val (stored, raw) = s.storage
      Json.obj("stored_bytes" -> stored, "raw_bytes" -> raw)
    }
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cpus.toInt,
      "trace" -> tracer.enabled, "setup_s" -> setupS,
      "cold_wall_s" -> coldWall, "window_wall_s" -> windowWall,
      "passes" -> nPasses, "peak_retained_bytes" -> peakRetainedBytes,
      "storage" -> storage, "ops" -> records.toSeq)
    write(new File(args("out")), Json(result))
    args.get("trace-out").filter(_ => tracer.enabled)
      .foreach(p => write(new File(p), tracer.toJson))
    spark.stop()
  }

  /** The tier-1 session settings (local[cpus], shuffle partitions = cpus,
    * AQE on, UTC), with every scratch directory inside `localDir`. */
  def session(cpus: String, localDir: File): SparkSession = {
    localDir.mkdirs()
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // as in graft.Bench: a catalog-sized codegen cache, so a warm op does
      // not recompile classes the previous ops evicted from the default
      // 100-entry cache
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(localDir, "hadoop").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def write(f: File, text: String): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
  }
}
