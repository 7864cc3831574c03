package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.operators.{Dedup, Text}

/** The benchmark's JVM side. `run.py` prepares the inputs and starts it:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --result FILE
  *
  * It runs every op once to check its output (this pass also warms the
  * JVM), sets up from nothing several times for a median, and runs the
  * workload's untimed warm passes, for workloads whose second pass is still
  * on the JIT's warming slope. Then it runs whole passes of the ops until S
  * seconds have gone and the workload's fewest passes are done, timing each
  * pass. With --trace 1 it runs instead, after a warm pass, one pass with
  * its listeners and one more without, and reports the layers of the
  * traced pass. Everything it measures goes to the result file as one
  * JSON object; `run.py` takes the medians over the passes.
  *
  *   Main --workload W --oracles FILE
  *
  * writes the DuckDB oracle SQL of the workload's ops to FILE and exits.
  */
object Main {
  val Queries: Seq[String] = Seq(
    "q1_agg", "q_join_inner", "q_join_broadcast",
    "q_topk_per_group", "q_sessionize", "q_time_bucket",
    "q_wordcount", "q_fingerprint", "q_ngram_jaccard",
    "q_dedup_minhash", "q_ann_bruteforce", "q_tpch_q3", "q_tpch_q5",
    "q_cluster_canonical", "q_dedup_clusters")
  val Doors: Seq[String] = Seq("q_stream_span_grow", "q_stream_upsert")
  /** The stores each op set reads (found by running each op on an empty
    * store dir).
    */
  val QueryStores: Seq[(SparkSession, String) => Any] = Seq(
    Dedup.ensureGramStore, Dedup.ensureSignatureStore, Dedup.ensureBaseSignatureStore)
  val DoorStores: Seq[(SparkSession, String) => Any] = Seq(Text.ensureSpanStore)
  val SetupReps = 3

  /** One timed phase: its wall time, the wall and CPU time of each pass,
    * the ops' latencies and failures, and the hygiene counters per pass.
    */
  final case class Phase(wall: Double, passWall: Seq[Double], passCpu: Seq[Double],
      lat: Seq[Double], failed: Seq[String], hygiene: Map[String, Double], span: Option[Span]) {
    def passes: Int = passWall.size
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val names = workload match {
      case "queries_sf001" => Queries
      case "doors" => Doors
      case "mr_wordcount" => Nil
      case w => sys.error(s"unknown workload $w")
    }
    a.get("oracles") match {
      case Some(f) =>
        val sql = SparkEntry.oracleSql
        names.foreach(n => require(sql.contains(n), s"$n has no DuckDB oracle"))
        writeAtomic(new File(f), Json(names.map(n => n -> sql(n)).toMap))
      case None => run(a, workload, names)
    }
  }

  private def run(a: Map[String, String], workload: String, names: Seq[String]): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val dir = a.getOrElse("data", "")
    val outDir = new File(work, "out")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = session(cores)
    val sc = spark.sparkContext
    val sessionReady = System.currentTimeMillis() / 1e3
    tempViews(spark) // the catalog makes its dirs on first use: not an op's leak
    val tracer = if (trace) Some(new Tracer(s"$workload-$seed-${ProcessHandle.current.pid}")) else None
    val runSpan = tracer.map(_.open("run", "perfbench", -1))
    val wlSpan = tracer.map(t => t.open("workload", workload, runSpan.get.id))
    val jobs = tracer.map(new JobTracer(_))
    val batches = tracer.map(new BatchTracer(_))
    def listen(on: Boolean): Unit = {
      jobs.foreach(j => if (on) sc.addSparkListener(j) else sc.removeSparkListener(j))
      batches.foreach(b => if (on) spark.streams.addListener(b) else spark.streams.removeListener(b))
    }

    val wl: Workload =
      if (names.isEmpty) new MrWordcount(spark, seed)
      else if (workload == "doors")
        new EntryQueries(spark, dir, names, DoorStores, warmPasses = 1)
      else new EntryQueries(spark, dir, names, QueryStores, warmPasses = 0)

    // set-up, SetupReps times from nothing, after the check pass has warmed
    // the JVM. The queries and doors build any store they miss themselves,
    // so only the word-count inputs must exist before that pass.
    val setupSpan = tracer.map(t => t.open("setup", "stores", wlSpan.get.id))
    def setupRep(r: Int): Double = {
      listen(true)
      wl.reset()
      val rep = tracer.map(t => t.open("setup_rep", s"rep$r", setupSpan.get.id))
      rep.foreach(s => sc.setLocalProperty(Tracer.SpanProp, s.id.toString))
      val t0 = System.nanoTime()
      wl.setup()
      val dt = (System.nanoTime() - t0) / 1e9
      rep.foreach(tracer.get.close(_))
      sc.setLocalProperty(Tracer.SpanProp, null)
      if (trace) PerfbenchBus.drain(sc)
      listen(false)
      dt
    }
    if (names.isEmpty) wl.setup()
    val t0 = System.nanoTime()
    val checked = wl.check(outDir.getPath)
    spark.catalog.clearCache()
    val checkS = (System.nanoTime() - t0) / 1e9
    val reps = (1 to SetupReps).map(setupRep)
    tracer.foreach(t => setupSpan.foreach(t.close(_)))
    val storeMb = wl.storeDir.map(du).getOrElse(0L) / 1048576.0

    def timed(traced: Boolean, fixedPasses: Option[Int]): Phase = {
      val tr = if (traced) tracer else None
      if (traced) listen(true)
      val passSpan = tr.map(t => t.open("pass", "timed", wlSpan.get.id))
      val lat = mutable.ArrayBuffer.empty[Double]
      val failed = mutable.ArrayBuffer.empty[String]
      val hyg = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val passWall = mutable.ArrayBuffer.empty[Double]
      val passCpu = mutable.ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while (fixedPasses.fold(passWall.size < wl.minPasses || elapsed < seconds)(passWall.size < _)) {
        val cpu0 = cpuSeconds
        val p0 = elapsed
        wl.ops.foreach { op =>
          val opSpan = tr.map(t => t.open("op", op.name, passSpan.get.id))
          opSpan.foreach { s =>
            sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
            batches.foreach(_.current = Some(s))
          }
          val views0 = tempViews(spark)
          val tmp0 = tmpEntries
          val o0 = System.nanoTime()
          try op.run(new Ctx(spark, tr, opSpan))
          catch { case e: Throwable =>
            failed += op.name
            System.err.println(s"[perfbench] ${op.name} failed: $e")
          }
          lat += (System.nanoTime() - o0) / 1e9
          opSpan.foreach { s =>
            tr.get.close(s)
            PerfbenchBus.drain(sc)
            batches.foreach(_.current = None)
            sc.setLocalProperty(Tracer.SpanProp, null)
          }
          // read before the benchmark's own clearCache, which would hide leaks
          hyg("cached_after_op") += cachedFrames(spark)
          hyg("active_streams_after_op") += spark.streams.active.length
          hyg("temp_views_added") += tempViews(spark) - views0
          hyg("tmp_dirs_added") += (tmpEntries -- tmp0).size
          spark.catalog.clearCache()
        }
        passCpu += cpuSeconds - cpu0
        passWall += elapsed - p0
        System.err.println(f"[perfbench] pass ${passWall.size} (traced=$traced): " +
          f"${passWall.last}%.3f s wall, ${passCpu.last}%.2f s cpu")
      }
      val wall = elapsed
      tr.foreach(t => passSpan.foreach(t.close(_)))
      if (traced) listen(false)
      Phase(wall, passWall.toSeq, passCpu.toSeq, lat.toSeq, failed.toSeq,
        hyg.toMap.map { case (k, v) => k -> v / (passWall.size max 1) }, passSpan)
    }

    // with --trace 1 the traced pass sits between two untraced ones: the
    // last warm pass, which this needs at least one of, and one after it.
    // The trace overhead divides by their mean, so the JVM's warming
    // through the three passes falls on both sides of the ratio.
    val warm = timed(traced = false, Some(if (trace) wl.warmPasses max 1 else wl.warmPasses))
    val tmpBefore = tmpEntries
    val phases =
      if (trace) Seq(true, false).map(timed(_, Some(1)))
      else Seq(timed(traced = false, None))
    val measured = phases.map(_.passes).sum
    val tmpLeft = (tmpEntries -- tmpBefore).size.toDouble / measured
    if (tmpLeft > 0) System.err.println(s"[perfbench] left in tmp: ${tmpEntries -- tmpBefore}")
    val traced = if (trace) Some(phases(0)) else None

    val layers: Map[String, Double] = traced.map { t =>
      val fns = if (workload == "queries_sf001") {
        spark.stop()
        Kernels.run(cores, dir)
      } else Kernels.names.map(n => s"functions.$n.rows_per_s" -> 0.0).toMap
      Layers(tracer.get, t.span.get, setupSpan.get, cores, (warm.passWall.last + phases(1).wall) / 2) ++
        Map("stores.build_s" -> median(reps), "stores.mb_written" -> storeMb) ++
        t.hygiene.map { case (k, v) => s"hygiene.$k" -> v } ++
        Map("hygiene.tmp_dirs_left" -> tmpLeft) ++ fns
    }.getOrElse(Map.empty)
    tracer.foreach(t => writeAtomic(new File(work, "trace.json"), t.toJson))

    writeAtomic(new File(a("result")), Json(Map(
      "session_ready" -> sessionReady,
      "setup_reps_s" -> reps,
      "warmup_s" -> (checkS + warm.passWall.take(wl.warmPasses).sum),
      "pass_wall_s" -> phases.flatMap(_.passWall),
      "pass_cpu_s" -> phases.flatMap(_.passCpu),
      "latencies_s" -> phases.flatMap(_.lat),
      "ops" -> phases.map(_.lat.size).sum,
      "failed_ops" -> phases.flatMap(_.failed),
      "passes" -> measured,
      "rows_per_pass" -> wl.rowsPerPass,
      "peak_rss_mb" -> peakRssMb,
      "tmp_dirs_left" -> tmpLeft,
      "checked" -> checked.checked,
      "check_failures" -> checked.failures,
      "written" -> checked.written,
      "layers" -> layers)))
    if (!sc.isStopped) spark.stop()
  }

  /** Bench's session config: local[nproc], AQE on, UTC, nanos as long. */
  def session(cores: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** VmHWM: the process's peak resident set. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def tmpEntries: Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list()).map(_.toSet).getOrElse(Set.empty)

  private def tempViews(spark: SparkSession): Int =
    spark.sessionState.catalog.listLocalTempViews("*").size

  /** Entries in the session's cache manager (0/1 if they cannot be read). */
  private def cachedFrames(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    try {
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    } catch { case _: Throwable => if (cm.isEmpty) 0 else 1 }
  }

  private def du(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  private def writeAtomic(f: File, body: String): Unit = {
    val tmp = new File(f.getPath + ".tmp")
    Files.writeString(tmp.toPath, body)
    Files.move(tmp.toPath, f.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.map { case (k, x) => q(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => q(other.toString)
  }
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Times each function [[graft.GraftExtensions]] injects, through SQL over
  * the permuted fixture copy with a noop sink, in a session of its own
  * built with the extension.
  */
object Kernels {
  private val calls: Seq[(String, String)] = Seq(
    "cosine_sim" -> "cosine_sim(emb, emb) FROM embs",
    "poly_hash" -> "poly_hash(toks) FROM docs",
    "ngram_hashes" -> "ngram_hashes(toks) FROM docs",
    "minhash64" -> "minhash64(hs) FROM docs",
    "hyperplane_bits" -> "hyperplane_bits(emb) FROM embs",
    "simhash64_fp" -> "simhash64_fp(toks) FROM docs",
    "try_parse_int" -> "try_parse_int(num) FROM docs",
    "span_md5s" -> "span_md5s(toks) FROM docs",
    "bigram_md5_buckets" -> "bigram_md5_buckets(toks) FROM docs",
    "span_md5_ids" -> "span_md5_ids(toks) FROM docs",
    "chunk_md5_ids64" -> "chunk_md5_ids64(toks) FROM docs")
  val names: Seq[String] = calls.map(_._1)
  private val Copies = 40
  private val Reps = 3

  def run(cores: Int, dir: String): Map[String, Double] = {
    val s = Main.session(cores, Map("spark.sql.extensions" -> "graft.GraftExtensions"))
    try {
      Tables(s, dir, "documents").createOrReplaceTempView("documents")
      Tables(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      val docs = s.sql(s"""SELECT split(text, ' ') AS toks,
          ngram_hashes(split(text, ' ')) AS hs, CAST(doc_id AS STRING) AS num
          FROM documents CROSS JOIN range($Copies)""").cache()
      val embs = s.sql(s"SELECT embedding AS emb FROM embeddings CROSS JOIN range($Copies)").cache()
      docs.createOrReplaceTempView("docs")
      embs.createOrReplaceTempView("embs")
      val rows = Map("docs" -> docs.count().toDouble, "embs" -> embs.count().toDouble)
      calls.map { case (n, call) =>
        val sql = s"SELECT $call"
        val times = (1 to Reps).map { _ =>
          val t0 = System.nanoTime()
          s.sql(sql).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        s"functions.$n.rows_per_s" -> rows(sql.split(" ").last) / Main.median(times)
      }.toMap
    } finally s.stop()
  }
}
