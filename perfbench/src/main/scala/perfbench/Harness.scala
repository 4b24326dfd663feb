package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.bench.ScaleGen
import graft.engine.GraftSession
import graft.functions.NativeExpressions
import graft.sources.Tables

/** One benchmark run inside one JVM, driven through graft's public entry
  * points only: `GraftSession.getOrCreate`, `SparkEntry.queries`,
  * `SparkEntry.oracleSql`, `Tables.load`, `NativeExpressions` and
  * `bench.ScaleGen`.
  *
  * Set-up: session start, then one unmeasured pass that writes every
  * selected query's result as parquet (the `Verify` dump) for the oracle
  * check done by `run.py`, and one unmeasured `noop` pass. Then a closed loop of `noop` materialisations,
  * in whole passes over the list (at least three) until `seconds` have
  * passed: one client,
  * each query starts when the previous one ends. With `trace=1` the loop
  * runs a second time with listeners and spans on, followed by the
  * per-layer probes.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace, data, out,
  * and optionally min_passes (default 3; 0 runs the set-up only).
  * `scalegen=SRC` instead writes the ×10 fixture of SRC to `data` and exits.
  * Raw records go to `out/result.json` and `out/spans.jsonl`.
  */
object Harness {

  final case class Span(id: Int, parent: Int, query: Int, name: String,
      startNs: Long, endNs: Long)

  final case class Exec(name: String, query: Int, wallMs: Double,
      buildMs: Double, writeMs: Double, buildJobs: Int, error: Option[String],
      counters: Option[(QueryCounters, Long)])

  private val spans = ArrayBuffer.empty[Span]
  private var lastId = 0
  private def nextId(): Int = { lastId += 1; lastId }

  private def timed[T](name: String, parent: Int = 0, query: Int = 0)(
      body: => T): (T, Span) = {
    val s = System.nanoTime()
    val v = body
    val sp = Span(nextId(), parent, query, name, s, System.nanoTime())
    spans += sp
    (v, sp)
  }

  private def ms(ns: Long): Double = ns / 1e6
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def errorText(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(500)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    if (opt.contains("scalegen")) {
      ScaleGen.main(Array(opt("scalegen"), opt("data"), "10"))
      return
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val out = opt("out")
    val minPasses = opt.get("min_passes").map(_.toInt).getOrElse(3)
    Files.createDirectories(Paths.get(out, "dumps"))

    val (spark, sessionSpan) = timed("engine.session")(GraftSession.getOrCreate())
    val sc = spark.sparkContext
    def drain(): Unit = ListenerBusShim.drain(sc, timeoutMillis = 10000)

    val names = Workloads.select(workload, SparkEntry.queries.keys.toSeq, seed)

    // unmeasured pass: warms caches, JIT and the write-once staging, and
    // leaves the `Verify`-shaped dump the oracle check reads. Set-up runs
    // in name order, not seed order: the first queries a cold JVM runs
    // shape its JIT profiles, and set-up must be the same for every seed.
    val warmup = names.sorted.map { n =>
      val dir = s"$out/dumps/$n"
      val s = System.nanoTime()
      val err =
        try {
          SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(dir)
          None
        } catch { case e: Throwable =>
          graft.engine.Fs.deleteRecursively(new java.io.File(dir))
          Some(errorText(e))
        }
      (n, ms(System.nanoTime() - s), err)
    }

    def runLoop(tracker: Option[Tracker], passes: Int = minPasses,
        secs: Double = seconds, order: Seq[String] = names): (Seq[Exec], Double) = {
      val execs = ArrayBuffer.empty[Exec]
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      var last = t0
      var i = 0
      // whole passes only, at least `passes`, so that every query counts
      // equally and run.py can take medians over passes
      while (i < passes * names.size || i % names.size != 0 ||
          System.nanoTime() < deadline) {
        val name = order(i % order.size)
        val counters = new QueryCounters
        tracker.foreach(_.current = counters)
        val v2Before = if (tracker.isDefined) v2Files() else Map.empty[String, Long]
        val buildStartMs = System.currentTimeMillis()
        val s = System.nanoTime()
        var b = -1L
        var buildEndMs = Long.MaxValue
        val err =
          try {
            val df = SparkEntry.queries(name)(spark, data)
            b = System.nanoTime()
            buildEndMs = System.currentTimeMillis()
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(errorText(e)) }
        val e = System.nanoTime()
        if (b < 0) b = e
        last = e
        val q = nextId()
        if (tracker.isDefined) {
          spans += Span(q, 0, q, "query", s, e)
          spans += Span(nextId(), q, q, "catalog.build", s, b)
          spans += Span(nextId(), q, q, "exec.write", b, e)
          drain() // late TaskEnd / progress events belong to this query
          val added = v2Files() -- v2Before.keys
          counters.v2FilesAdded = added.size
          counters.v2BytesAdded = added.values.sum
        }
        val buildJobs = counters.synchronized(
          counters.jobStartMs.count(t => t >= buildStartMs && t <= buildEndMs))
        execs += Exec(name, q, ms(e - s), ms(b - s), ms(e - b), buildJobs, err,
          tracker.map(t => counters -> t.v2WriteTaskMs(counters)))
        i += 1
      }
      (execs.toSeq, ms(last - t0))
    }

    // one unmeasured noop pass, so the measured passes start on plans and
    // code paths the JIT has seen in their measured form
    runLoop(None, passes = 1, secs = 0, order = names.sorted)
    val warmupEndEpochMs = System.currentTimeMillis()

    val (measured, measuredMs) = runLoop(None)
    val heapAfterGcMb = if (trace) 0.0 else {
      // Spark's ContextCleaner drops unreachable broadcasts, shuffles and
      // cached blocks only after a GC has enqueued their weak references,
      // so collect, let it run, and collect again
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1e6
    }

    var probes = Json.obj()
    val (traced, tracedMs) = if (!trace) (Seq.empty[Exec], 0.0) else {
      val tracker = new Tracker
      sc.addSparkListener(tracker)
      spark.listenerManager.register(tracker)
      spark.streams.addListener(tracker.streaming)
      val r = runLoop(Some(tracker))
      probes = layerProbes(spark, data, tracker, drain _)
      r
    }

    drain()
    val oracle = SparkEntry.oracleSql
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "data" -> data, "names" -> names,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "java_version" -> System.getProperty("java.version"),
      "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "session_ms" -> ms(sessionSpan.endNs - sessionSpan.startNs),
      "warmup_end_epoch_ms" -> warmupEndEpochMs,
      "warmup" -> warmup.map { case (n, t, err) =>
        Json.obj("name" -> n, "ms" -> t, "error" -> err) },
      "measured_ms" -> measuredMs,
      "measured" -> measured.map(execJson),
      "heap_after_gc_mb" -> heapAfterGcMb,
      "traced_ms" -> tracedMs,
      "traced" -> traced.map(execJson),
      "v2_files_on_disk" -> v2Files().size,
      "probes" -> probes)
    Files.write(Paths.get(out, "result.json"), result.text.getBytes(UTF_8))
    Files.write(Paths.get(out, "spans.jsonl"), spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "query" -> s.query,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs).text
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }

  /** Roots where the program's data source v2 (`StageSource`) keeps its
    * tables; fixed paths in the program.
    */
  private val v2Roots = Seq("/tmp/graft_dsv2w", "/tmp/graft_dsv2cat")

  /** path -> size of every file under the v2 roots. */
  private def v2Files(): Map[String, Long] = v2Roots.map(Paths.get(_))
    .filter(Files.isDirectory(_)).flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toList
      finally walk.close()
    }.toMap

  private def execJson(x: Exec): Json.Raw = {
    val base = Seq("name" -> x.name, "query" -> x.query, "wall_ms" -> x.wallMs,
      "build_ms" -> x.buildMs, "write_ms" -> x.writeMs,
      "build_jobs" -> x.buildJobs, "error" -> x.error)
    val counters = x.counters.toSeq.flatMap { case (c, v2WriteTaskMs) => c.synchronized(Seq(
      "jobs" -> c.jobStartMs.size, "stages" -> c.stages,
      "single_task_stages" -> c.singleTaskStages, "tasks" -> c.tasks,
      "task_ms" -> c.taskMs, "cpu_ms" -> c.cpuNs / 1e6, "gc_ms" -> c.gcMs,
      "scan_rows" -> c.scanRows, "scan_bytes" -> c.scanBytes,
      "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "shuffle_read_bytes" -> c.shuffleReadBytes, "spill_bytes" -> c.spillBytes,
      "v2_write_task_ms" -> v2WriteTaskMs, "v2_rows_written" -> c.v2RowsWritten,
      "v2_files_added" -> c.v2FilesAdded, "v2_bytes_added" -> c.v2BytesAdded,
      "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
      "planning_ms" -> c.planningMs,
      "first_batch_ms" -> c.batchMs.filter(_._1).map(_._2.toDouble).toSeq,
      "later_batch_ms" -> c.batchMs.filterNot(_._1).map(_._2.toDouble).toSeq,
      "commit_ms" -> c.commitMs, "state_rows" -> c.stateRows)) }
    Json.obj(base ++ counters: _*)
  }

  /** Per-layer probes of the traced run, each timed directly: `Tables.load`
    * once per fixture table, the five reference operators, and the public
    * `NativeExpressions` kernels over cached columns of the fixture.
    */
  private def layerProbes(spark: SparkSession, data: String, tracker: Tracker,
      drain: () => Unit): Json.Raw = {
    val reps = 3
    val loads = Tables.names.filter(t => new java.io.File(Tables.path(data, t)).exists)
      .map { t =>
        val runs = (1 to reps).map { _ =>
          drain()
          val c = new QueryCounters
          tracker.current = c
          val sp = timed("sources.load")(Tables.load(spark, data, t))._2
          drain()
          (ms(sp.endNs - sp.startNs), c.synchronized(c.jobStartMs.size))
        }
        t -> Json.obj("ms" -> median(runs.map(_._1)),
          "jobs" -> runs.map(_._2).max)
      }
    tracker.current = new QueryCounters

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val operators = Workloads.refOps.map { q =>
      q -> median((1 to reps).map { _ =>
        val sp = timed(s"operators.$q")(noop(SparkEntry.queries(q)(spark, data)))._2
        ms(sp.endNs - sp.startNs)
      })
    }

    def cached(df: DataFrame): (DataFrame, Long) = {
      val c = df.cache()
      (c, c.count())
    }
    val (docs, nDocs) = cached(Tables.load(spark, data, "documents").select("text"))
    val (shingles, _) = cached(
      docs.select(NativeExpressions.char_shingles(col("text"), 5).as("sh")))
    def pairs(table: String, key: String, value: String) = {
      val t = Tables.load(spark, data, table)
      cached(t.select(col(key), col(value).as("a")).join(
        t.select((col(key) - 1).as(key), col(value).as("b")), key).select("a", "b"))
    }
    val (names, nNames) = pairs("customer", "c_custkey", "c_name")
    val (vecs, nVecs) = pairs("embeddings", "vec_id", "embedding")
    val dvecs = vecs.select(col("a").cast("array<double>").as("a"),
      col("b").cast("array<double>").as("b"))
    def perRow(name: String, rows: Long)(df: => DataFrame): (String, Double) =
      name -> median((1 to reps).map { _ =>
        val sp = timed(s"functions.$name")(noop(df))._2
        (sp.endNs - sp.startNs).toDouble
      }) / math.max(rows, 1L)
    val functions = Seq(
      perRow("tokenize", nDocs)(docs.select(NativeExpressions.tokenize(col("text")))),
      perRow("char_shingles", nDocs)(
        docs.select(NativeExpressions.char_shingles(col("text"), 5))),
      perRow("minhash_sig", nDocs)(
        shingles.select(NativeExpressions.minhash_sig(col("sh"), 64))),
      perRow("bounded_levenshtein", nNames)(names.select(
        NativeExpressions.bounded_levenshtein(col("a"), col("b"), 3))),
      perRow("vec_dot", nVecs)(dvecs.cache().select(
        NativeExpressions.vec_dot(col("a"), col("b")))))
    Seq(docs, shingles, names, vecs).foreach(_.unpersist())

    Json.obj(
      "loads" -> Json.obj(loads: _*),
      "operators" -> operators.toMap,
      "functions" -> functions.toMap)
  }
}

/** Minimal JSON rendering for the harness's records. */
object Json {
  final case class Raw(text: String)
  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
