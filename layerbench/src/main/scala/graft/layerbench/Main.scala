package graft.layerbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer

/** The layered benchmark. One run = one workload, one seed, one process:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--traces <dir>]
  * }}}
  *
  * Untraced (`--trace 0`): set up, then run timed ops back to back for
  * `--seconds`, checking each op's outputs after its timer stops, and print
  * the end-to-end metrics. Traced (`--trace 1`): half the time untraced and
  * half with listeners and spans (their p50s give the tracing overhead),
  * then each layer entry point once in isolation; prints the per-layer
  * metrics and writes every span to `<traces>/<workload>-seed<n>.jsonl`.
  * The last stdout line is the result JSON; human-readable lines before it
  * start with `#`. */
object Main {

  /** Fixed so that editing program code cannot change the conditions. */
  val Cores = 4
  /** After set-up's warm-up op, untimed ops run for at least this long and
    * this many ops before timing starts: a fresh JVM's op walls keep
    * falling over its first ~10 s and first few ops while the JIT compiles
    * Spark's and the engine's code. */
  val SettleSeconds = 5.0
  val SettleOps = 3

  val Workloads = Seq("clips_decode", "corpus_dedup", "clips_ingest")

  def workload(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "clips_decode" => new ClipsWorkload(spark, work, seed, n = 20000)
      case "corpus_dedup" => new CorpusWorkload(spark, work, seed,
        Gen.CorpusParams(docs = 1500, vocab = 50000, clusters = 80, maxClusterSize = 3,
          hotSize = 50, dim = 64))
      case "clips_ingest" => new IngestWorkload(spark, work, seed, batch = 1000, days = 6)
    }

  /** Per-layer spans and their stats; `schema.validate` is analysis-only. */
  val LayerSpans = Seq("validate.suite", "validate.rows", "validate.unique",
    "sketch.digest", "audio.invariant", "text.fingerprint", "dedup.candidates",
    "dedup.verify", "vector.candidates", "dedup.components", "cast.apply",
    "streaming.batch", "checkpoint.fingerprint", "checkpoint.resume")
  val LayerStats = Seq("wall_s", "cpu_s", "wait_s", "jobs", "shuffle_bytes",
    "spill_bytes", "skew", "failed_tasks")
  val LayerCounts = Seq("audio.invariant.decoded_rows", "dedup.candidates.pairs",
    "dedup.candidates.dropped_buckets", "dedup.verify.useful_ratio",
    "vector.candidates.useful_ratio", "dedup.components.rounds",
    "checkpoint.resume.pending_ratio", "checkpoint.fingerprint.read_amp",
    "streaming.batch.commit_ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    require(Workloads.contains(name), s"unknown workload $name (one of ${Workloads.mkString(", ")})")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath.toString
    val traces = opts.get("traces").map(Paths.get(_).toAbsolutePath)

    // exit explicitly: Spark's non-daemon threads must not keep a failed
    // run alive, and a failure must not print a result
    val code = try {
      println(run(name, seed, seconds, trace, work, traces))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally Dirs.deleteTree(work)
    System.out.flush()
    System.exit(code)
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.io.file.buffer.size", (4 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs ops back to back until `seconds` have passed. */
  private final class Loop(w: Workload, t: Tracing, label: String) {
    val walls = ArrayBuffer.empty[Double]
    val recalls = ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    var rows = 0L
    var timed = 0.0

    def one(): Unit = {
      attempted += 1
      try {
        w.beforeOp()
        val (out, s) = secondsOf(w.op(t))
        timed += s
        val c = out.check()
        recalls += c.recall
        if (c.errors.nonEmpty) {
          failed += 1
          println(s"# $label op $attempted failed its check: ${c.errors.take(5).mkString("; ")}")
        } else {
          walls += s
          rows += out.rows
        }
      } catch {
        case e: Exception =>
          failed += 1
          println(s"# $label op $attempted threw: $e")
      }
    }

    /** Walls of the ops that passed their check; the whole timed wall when
      * none did (the run then reports `correct: false` anyway). */
    def samples: Seq[Double] = if (walls.nonEmpty) walls.toSeq else Seq(timed)

    def runFor(seconds: Double, minOps: Int = 0): this.type = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < end || attempted < minOps) one()
      this
    }
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, traces: Option[java.nio.file.Path]): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val (w, genS) = secondsOf(workload(name, spark, work, seed))
    try {
      val (_, prepS) = secondsOf(w.prepare())
      val warm = new Loop(w, NoTrace, "warm-up")
      val (_, warmS) = secondsOf(warm.one())
      val setupS = sessionS + genS + prepS + warmS
      println(f"# workload $name, seed $seed: ${w.sizes}")
      println(f"# setup: session $sessionS%.3f s + generate $genS%.3f s + " +
        f"materialize $prepS%.3f s + warm-up op $warmS%.3f s")
      val settle = new Loop(w, NoTrace, "settle").runFor(SettleSeconds, SettleOps)
      println(s"# settle: ${settle.attempted} untimed ops")

      if (!trace) {
        val loop = new Loop(w, NoTrace, "timed").runFor(seconds)
        val attempted = loop.attempted + warm.attempted + settle.attempted
        val failed = loop.failed + warm.failed + settle.failed
        val samples = loop.samples
        val tail = Stats.tail(samples)
        println(f"# ops: ${loop.attempted} timed, ${loop.failed} failed; " +
          f"failed_share ${Stats.failedShare(failed, attempted)}%.4f; op walls (s): " +
          loop.walls.map(x => f"$x%.3f").mkString(" "))
        if (samples.size >= 2) {
          val (q1, q2, q3) = Stats.quartiles(samples)
          println(f"# op wall quartiles (s): $q1%.4f $q2%.4f $q3%.4f")
        }
        println(s"# op_s.tail is ${tail.label}")
        if (w.writeAmp > 0) println(f"# write_amp ${w.writeAmp}%.4f bytes written per byte landed")
        result(failed, attempted, Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", if (loop.timed > 0) loop.rows / loop.timed else 0.0, "rows/s"),
          ("op_s.p50", Stats.median(samples), "s"),
          ("op_s.tail", tail.value, "s"),
          ("heap_live_mb", heapLiveMb(), "MB"),
          ("planted_recall", if (loop.recalls.isEmpty) 0.0 else Stats.median(loop.recalls.toSeq), "ratio")))
      } else {
        val plain = new Loop(w, NoTrace, "untraced").runFor(seconds / 2)
        val tracer = new Tracer(spark)
        tracer.install()
        val traced = new Loop(w, tracer, "traced")
        locally {
          val end = System.nanoTime() + (seconds / 2 * 1e9).toLong
          var k = 0
          while (System.nanoTime() < end) {
            k += 1
            tracer.withOp(s"op-$k") { tracer.span("op")(traced.one()) }
          }
        }
        val counts = try tracer.withOp("isolated")(w.layers(tracer)) finally tracer.remove()
        val attempted = plain.attempted + traced.attempted + warm.attempted +
          settle.attempted + 1
        val failed = plain.failed + traced.failed + warm.failed + settle.failed
        val p50Plain = Stats.median(plain.samples)
        val p50Traced = Stats.median(traced.samples)
        val overhead = p50Traced / p50Plain - 1
        println(f"# tracing overhead: op p50 $p50Traced%.4f s traced vs $p50Plain%.4f s " +
          f"untraced (${plain.walls.size} and ${traced.walls.size} ops): ${overhead * 100}%+.1f%%")
        printLayers(tracer)
        traces.foreach { dir =>
          val f = dir.resolve(s"$name-seed$seed.jsonl")
          tracer.writeJsonl(f)
          println(s"# spans written to $f")
        }
        val layerMetrics = for {
          span <- LayerSpans
          stat <- LayerStats
        } yield {
          val v = tracer.isolated(span).map { s =>
            val st = s.stats
            stat match {
              case "wall_s" => s.wallS
              case "cpu_s" => st.cpuNs / 1e9
              case "wait_s" => st.waitMs / 1e3
              case "jobs" => st.jobs.toDouble
              case "shuffle_bytes" => st.shuffleBytes.toDouble
              case "spill_bytes" => st.spillBytes.toDouble
              case "skew" => st.skew
              case "failed_tasks" => st.failedTasks.toDouble
            }
          }.getOrElse(0.0)
          (s"$span.$stat", v, unitOf(stat))
        }
        val schema = tracer.isolated("schema.validate")
        result(failed, attempted, layerMetrics ++ Seq(
          ("schema.validate.wall_s", schema.map(_.wallS).getOrElse(0.0), "s"),
          ("schema.validate.jobs", schema.map(_.stats.jobs.toDouble).getOrElse(0.0), "count")) ++
          LayerCounts.map(c => (c, counts.getOrElse(c, 0.0), unitOf(c))) ++ Seq(
          ("write_amp", w.writeAmp, "ratio"),
          ("trace.overhead", overhead, "ratio")))
      }
    } finally {
      w.close()
      spark.stop()
    }
  }

  def unitOf(stat: String): String = stat.split('.').last match {
    case "wall_s" | "cpu_s" | "wait_s" => "s"
    case "shuffle_bytes" | "spill_bytes" => "bytes"
    case "commit_ms" => "ms"
    case "skew" | "useful_ratio" | "pending_ratio" | "read_amp" => "ratio"
    case _ => "count"
  }

  private def printLayers(t: Tracer): Unit = {
    println("# span                      op        wall_s   self_s    cpu_s   wait_s  jobs  shuffle_B    spill_B   skew")
    t.all.foreach { s =>
      val st = s.stats
      val indent = if (s.parent.isDefined) "  " else ""
      println(f"# ${indent + s.name}%-25s ${s.op}%-8s ${s.wallS}%8.4f ${t.selfS(s)}%8.4f " +
        f"${st.cpuNs / 1e9}%8.4f ${st.waitMs / 1e3}%8.4f ${st.jobs}%5d ${st.shuffleBytes}%10d " +
        f"${st.spillBytes}%10d ${st.skew}%6.2f")
    }
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0.0" else java.lang.Double.toString(x)

  private def result(failed: Long, attempted: Long, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** Heap still in use after a full collection that follows the timed ops:
    * what the engine retains (cached blocks, checkpoints, plans). Taken once,
    * after the timer stops; collecting between ops would deoptimize the
    * next op's code and slow it. */
  private def heapLiveMb(): Double = {
    // the second collection takes what Spark's cleaner released after the first
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
