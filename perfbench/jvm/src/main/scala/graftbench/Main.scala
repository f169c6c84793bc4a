package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark JVM. It drives graft only through its public entry
  * points — `GraftSession.configure`, the registry functions in
  * `SparkEntry.queries` (and their `SparkEntry.oracleSql`) and
  * `graft.streaming.Windows` — and writes everything it measured to one
  * JSON file that `perfbench/run.py` analyses.
  *
  * Modes:
  *  - `oracles --ops a,b --out F`: the oracle SQL of the named queries.
  *  - `setup --cpus N --out F`: JVM start to a ready session, then exit.
  *  - `batch --ops a,b --data D --check DIR ...`: closed loop over the
  *    operation list (a cold pass, an untimed pass that writes each
  *    result for the oracle check, then warm passes for `--seconds`).
  *  - `stream --events DIR --check DIR ...`: the open-loop windowed
  *    stream.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val args = argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(args("out"))
    val result: Map[String, Any] = mode match {
      case "oracles" =>
        val ops = args("ops").split(",").toSeq
        val sql = graft.SparkEntry.oracleSql
        ops.map(o => o -> sql.getOrElse(o, null)).toMap
      case _ =>
        val cpus = args("cpus").toInt
        val t0 = Clock.nowMs
        val spark = graft.GraftSession.configure(
            SparkSession.builder().master(s"local[$cpus]"), cpus)
          .config("spark.local.dir", args("tmp"))
          .config("spark.sql.warehouse.dir", args("tmp") + "/warehouse")
          .getOrCreate()
        val ready = Clock.nowMs
        spark.sparkContext.setLogLevel("WARN")
        val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
        val common = Map[String, Any](
          "setup_ms" -> (ready - jvmStart), "session_ms" -> (ready - t0))
        if (mode == "setup") {
          Files.write(out, toJson(common).getBytes(UTF_8))
          Runtime.getRuntime.halt(0) // the probe measures set-up only
        }
        val body = mode match {
          case "batch" => new BatchRun(spark, args).run()
          case "stream" => new StreamRun(spark, args).run()
        }
        spark.stop()
        common ++ body ++ Map("env" -> Map(
          "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
          "peak_rss_mb" -> peakRssMb()))
    }
    Files.write(out, toJson(result).getBytes(UTF_8))
  }

  def toJson(v: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** VmHWM: the peak resident set of this JVM. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
    .getOrElse(Double.NaN)
}

/** Closed loop: one client runs the operation list pass after pass;
  * one operation is one registry query run to completion (the noop
  * sink materializes every row and column).
  */
final class BatchRun(spark: SparkSession, args: Map[String, String]) {
  private val queries = graft.SparkEntry.queries
  private val ops = args("ops").split(",").toSeq
  private val data = args("data")
  private val seconds = args("seconds").toDouble
  private val tracer = if (args("trace") == "1") Some(new Tracer(spark)) else None
  private val spans = new Spans
  private val failures = ArrayBuffer[Map[String, Any]]()
  private val passes = ArrayBuffer[Map[String, Any]]()

  private def op(pass: Int, passName: String, name: String, action: DataFrame => Unit): Unit =
    spans(pass, "op", name) { id =>
      try {
        val df = spans(id, "graft", name)(_ => queries(name)(spark, data))
        spans(id, "action", name)(_ => action(df))
      } catch {
        case e: Throwable =>
          failures += Map("op" -> name, "pass" -> passName, "error" -> e.toString.take(500))
      }
    }

  private def pass(run: Int, name: String, traced: Boolean): Unit = {
    if (traced) tracer.foreach(_.attach())
    val cg0 = Codegen.snapshot()
    val cpu0 = Cpu.nowMs
    val jit0 = Cpu.jitMs
    val id = spans(run, "pass", name) { id =>
      ops.foreach(o => op(id, name, o, _.write.format("noop").mode("overwrite").save()))
      id
    }
    val cpu1 = Cpu.nowMs
    val jit1 = Cpu.jitMs
    val cg1 = Codegen.snapshot()
    tracer.foreach(_.detach())
    passes += Map("span" -> id, "name" -> name, "traced" -> traced, "cpu_ms" -> (cpu1 - cpu0),
      "jit_ms" -> (jit1 - jit0),
      "codegen_compiles" -> (cg1._1 - cg0._1), "codegen_ms" -> (cg1._2 - cg0._2))
  }

  def run(): Map[String, Any] = {
    spans(0, "run", args("workload")) { run =>
      pass(run, "cold", traced = true)
      // untimed and untraced: every result written for the oracle check;
      // it also warms the JIT and codegen caches for the timed passes
      val check = args("check")
      spans(run, "check", "check") { id =>
        ops.foreach(o => op(id, "check", o,
          _.coalesce(1).write.mode("overwrite").parquet(s"$check/$o")))
      }
      // measured passes for the measured time, at least three so that
      // the medians are of several passes; the traced run alternates
      // untraced and traced passes so it also yields the overhead
      val start = Clock.nowMs
      var k = 0
      while (k < 3 || Clock.nowMs - start < seconds * 1000) {
        pass(run, s"warm$k", traced = tracer.isDefined && k % 2 == 1)
        k += 1
      }
    }
    Map("spans" -> spans.toSeq, "passes" -> passes.toList, "failures" -> failures.toList,
      "trace" -> tracer.map(_.dump))
  }
}

/** Open loop: a generator thread moves seeded event files (written
  * beforehand by `perfbench/gen.py`) into a watched directory on a fixed
  * schedule, whatever the stream's pace; each move is an atomic rename,
  * so the file source never reads a partial file. The query is a
  * watermarked fixed-window count and max(created_at) per key, in update
  * mode on a fixed trigger interval, into a foreachBatch sink that stamps
  * each emitted row with its emission time.
  */
final class StreamRun(spark: SparkSession, args: Map[String, String]) {
  private val work = Paths.get(args("stream_dir"))
  private val watch = work.resolve("watch")
  private val ckp = work.resolve("checkpoint")
  private val staged = Paths.get(args("events"))
  private val tracer = if (args("trace") == "1") Some(new Tracer(spark)) else None

  /** (arrive ms after the start, file name, rows), in arrival order. */
  private def manifest(): Seq[(Long, String, Long)] =
    scala.io.Source.fromFile(staged.resolve("manifest.csv").toFile).getLines().drop(1).map { l =>
      val Array(a, f, n) = l.split(",")
      (a.toLong, f, n.toLong)
    }.toSeq

  def run(): Map[String, Any] = {
    Seq(watch, ckp).foreach { p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile); Files.createDirectories(p)
    }
    val files = manifest()
    val fileRows = files.map(_._3).scanLeft(0L)(_ + _).tail.toArray
    val progress = new Progress
    spark.streams.addListener(progress)
    tracer.foreach(_.attach())

    // Spark fires processing-time triggers on multiples of the interval
    // since the epoch: starting at a fixed offset on the window grid
    // (a multiple of the trigger) gives every run the same alignment of
    // files to triggers and of events to windows
    val triggerMs = args("trigger_ms").toLong
    val gridMs = args("window_ms").toLong
    val t0 = (Clock.nowMs.toLong / gridMs + 1) * gridMs + 50

    // an event's created_at is its due time: the run's start plus the
    // offset the generator drew for it
    val schema = StructType(Seq(StructField("created_us", LongType),
      StructField("key", IntegerType), StructField("value", DoubleType)))
    val events = spark.readStream.schema(schema).csv(watch.toString)
      .withColumn("created_at", timestamp_micros(col("created_us") + lit(t0 * 1000)))
    val windowed = graft.streaming.Windows
      .fixedGroups(events, "created_at", s"$gridMs milliseconds", args("watermark"), col("key"))
      .agg(count(lit(1)).as("n"), max(col("created_at")).as("max_created_at"))
      .select(unix_micros(col("window.start")).as("w_start_us"), col("key"), col("n"),
        unix_micros(col("max_created_at")).as("max_created_us"))

    val emitted = ArrayBuffer[Seq[Any]]() // emit ms, window start µs, key, n, max created µs
    val emits = ArrayBuffer[Seq[Any]]()   // batch id, emit ms
    val sink: (DataFrame, Long) => Unit = { (df, batchId) =>
      val rows = df.collect()
      val now = Clock.nowMs
      emitted.synchronized {
        rows.foreach(r => emitted += Seq[Any](now, r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        emits += Seq(batchId, now)
      }
    }
    Thread.sleep(math.max(0L, (t0 - Clock.nowMs).toLong))
    val startCpuMs = Cpu.nowMs
    val startJitMs = Cpu.jitMs
    val query = windowed.writeStream.outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", ckp.toString)
      .foreachBatch(sink)
      .start()

    // generator: each file is due at t0 + arrive
    val genLate = new Array[Double](files.size)
    val backlog = ArrayBuffer[Seq[Double]]() // time since t0, files due − files committed
    val gen = new Thread(() => {
      files.zipWithIndex.foreach { case ((arrive, name, _), i) =>
        val due = t0 + arrive
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.move(staged.resolve(name), watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        val now = Clock.nowMs
        genLate(i) = now - due
        val committed = fileRows.search(progress.committedRows.get()) match {
          case scala.collection.Searching.Found(j) => j + 1
          case scala.collection.Searching.InsertionPoint(j) => j
        }
        backlog += Seq(now - t0, (i + 1 - committed).toDouble)
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    query.processAllAvailable()
    val end = Clock.nowMs
    query.stop()
    spark.streams.removeListener(progress)
    tracer.foreach(_.detach())

    // final value per window and key: counts only grow, so the largest
    val finals = emitted.groupBy(r => (r(1), r(2))).values.map(_.maxBy(_(3).asInstanceOf[Long]))
    Files.createDirectories(Paths.get(args("check")))
    Files.write(Paths.get(args("check"), "final.csv"),
      ("w_start_us,key,n,max_created_us\n" +
        finals.map(r => r.drop(1).mkString(",")).mkString("\n") + "\n").getBytes(UTF_8))
    Map("t0" -> t0, "start_cpu_ms" -> startCpuMs, "start_jit_ms" -> startJitMs, "end" -> end, "files" -> files.size, "gen_late_ms" -> genLate.toSeq,
      "backlog" -> backlog.toList, "emitted" -> emitted.toList, "emits" -> emits.toList,
      "batches" -> progress.toSeq,
      "failures" -> query.exception.map(e => Map("op" -> "stream", "error" -> e.toString)).toList,
      "trace" -> tracer.map(_.dump))
  }
}
