package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.mr.MapReduceJob
import graft.operators.Sources

/** What an op sees while it runs: `phase` brackets one layer call. When
  * the run is traced it opens a span for the layer and points the jobs
  * the call submits at that span.
  */
final class Ctx(spark: SparkSession, tracer: Option[Tracer], val op: Option[Span]) {
  def phase[T](kind: String)(f: => T): T = (tracer, op) match {
    case (Some(tr), Some(o)) =>
      val sc = spark.sparkContext
      val s = tr.open(kind, kind, o.id)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try f
      finally {
        tr.close(s)
        sc.setLocalProperty(Tracer.SpanProp, o.id.toString)
      }
    case _ => f
  }

  def tag(k: String, v: Double): Unit = op.foreach(_.add(k, v))
}

/** One closed-loop operation: an MR job, a query or a door run. */
final case class Op(name: String)(val run: Ctx => Unit)

/** Result of the once-per-run output check: the outputs checked here, the
  * ops that failed, and the op outputs left under the output dir for the
  * DuckDB comparison.
  */
final case class Checked(checked: Int, failures: Seq[String], written: Seq[String])

trait Workload {
  def ops: Seq[Op]
  /** Builds the inputs and stores the timed ops read. */
  def setup(): Unit
  /** Deletes what [[setup]] built, so the next setup starts cold. */
  def reset(): Unit
  /** Runs every op once outside the timed phase and checks its output. */
  def check(outDir: String): Checked
  /** Input rows one pass consumes (corpus lines, ingested door rows). */
  def rowsPerPass: Long
  /** Stores [[setup]] built, for their size on disk. */
  def storeDir: Option[File]
  /** Untimed passes after the check pass and the set-up reps. Measured
    * once on 4 cores: the first pass of doors after the check pass took
    * 14.6-16.9 CPU-s over three seeds and the next one 11.6-12.8, so doors
    * and the word count warm one pass more. The first queries pass varies
    * less (11.3-11.7 s wall over three seeds), and a warm pass of it would
    * cost 11 s of each run.
    */
  def warmPasses: Int
  /** Fewest timed passes, for a median over several where a pass is short:
    * a host that shares its cores moves single passes by 10% and more.
    */
  def minPasses: Int
}

object Workload {
  def deleteRec(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }
}

/** The reference's own program (example.py): word count through the
  * holistic, combiner and associative lowerings of [[MapReduceJob]], over
  * a Zipf corpus (a combiner collapses the shuffle) and a near-unique one
  * (the combiner saves nothing).
  */
final class MrWordcount(spark: SparkSession, seed: Long) extends Workload {
  import MrWordcount._

  private val sc = spark.sparkContext
  private val corpora = Seq("zipf" -> ZipfLines, "unique" -> UniqueLines)
  private val inputs = mutable.Map.empty[String, RDD[(Long, String)]]
  private val distinct = mutable.Map.empty[String, Long]
  private val pairs = mutable.Map.empty[String, Long]

  def setup(): Unit = corpora.foreach { case (c, n) =>
    val s = seed
    // four slices a core: the map stages balance round a core that a
    // neighbour on a shared host slows, instead of waiting on its one task
    val rdd = sc.range(0L, n.toLong, 1L, 4 * sc.defaultParallelism)
      .map(i => i -> line(s, c, i)).persist(StorageLevel.MEMORY_ONLY)
    rdd.count()
    inputs(c) = rdd
  }

  def reset(): Unit = { inputs.values.foreach(_.unpersist(blocking = true)); inputs.clear() }

  private def lowering(l: String): RDD[(Long, String)] => RDD[(String, Int)] = l match {
    case "holistic" => MapReduceJob[Long, String, String, Int](mapfn, reducefn).resultRDD
    case "combiner" =>
      MapReduceJob[Long, String, String, Int](mapfn, reducefn, Some(reducefn)).resultRDD
    case "associative" => MapReduceJob.associative[Long, String, String, Int](mapfn, _ + _).resultRDD
  }

  val ops: Seq[Op] = for {
    (c, _) <- corpora
    l <- Seq("holistic", "combiner", "associative")
  } yield Op(s"${l}_$c") { ctx =>
    val result = ctx.phase("construct")(lowering(l)(inputs(c)))
    val n = ctx.phase("execute")(result.count())
    ctx.tag("pairs", pairs(c).toDouble)
    require(distinct.get(c).forall(_ == n), s"${l}_$c: $n keys, expected ${distinct(c)}")
  }

  /** Exact tally in this JVM's main thread with plain collections: no
    * Spark, no MapReduceJob. Each lowering's result must have the tally's
    * key count and the same order-independent sum of per-(word, count)
    * hashes, computed where the result lies.
    */
  def check(outDir: String): Checked = {
    val failures = mutable.ArrayBuffer.empty[String]
    corpora.foreach { case (c, n) =>
      val tally = mutable.HashMap.empty[String, Int]
      var words = 0L
      var i = 0L
      while (i < n) {
        line(seed, c, i).split(' ').foreach { w => tally(w) = tally.getOrElse(w, 0) + 1; words += 1 }
        i += 1
      }
      distinct(c) = tally.size.toLong
      pairs(c) = words
      val want = (tally.size.toLong, tally.iterator.map(pairHash).sum)
      Seq("holistic", "combiner", "associative").foreach { l =>
        val got = lowering(l)(inputs(c)).map(p => (1L, pairHash(p)))
          .fold((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
        if (got != want) failures += s"${l}_$c"
      }
    }
    Checked(ops.size, failures.toSeq, Nil)
  }

  def rowsPerPass: Long = corpora.map(_._2.toLong).sum * 3
  def storeDir: Option[File] = None
  def warmPasses: Int = 1
  def minPasses: Int = 3
}

object MrWordcount {
  /** Corpus sizes in lines: one pass takes about 3 s on 4 cores. */
  val ZipfLines = 150000
  val UniqueLines = 75000

  val mapfn: (Long, String) => IterableOnce[(String, Int)] =
    (_, v) => v.split(' ').iterator.map(_ -> 1)
  val reducefn: (String, Seq[Int]) => Int = (_, vs) => vs.sum

  def pairHash(p: (String, Int)): Long =
    scala.util.hashing.MurmurHash3.stringHash(p._1) * 0x9E3779B97F4A7C15L + p._2 * 0xC2B2AE3D27D4EB4FL

  private val Vocab = 50000
  /** Zipf(1.1) cumulative distribution over `Vocab` ranks. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(r => 1.0 / math.pow(r + 1.0, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def mix(seed: Long, c: String, i: Long): Long =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ c.hashCode ^ (i << 20)).nextLong() ^ i

  /** Line `i` of corpus `c`: 8 to 12 words, a function of (seed, c, i). */
  def line(seed: Long, c: String, i: Long): String = {
    val r = new java.util.SplittableRandom(mix(seed, c, i))
    val n = 8 + r.nextInt(5)
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb += ' '
      if (c == "zipf") {
        val k = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
        sb ++= "w" ++= (if (k >= 0) k else -k - 1).min(Vocab - 1).toString
      } else sb ++= java.lang.Long.toString(r.nextLong() & 0xFFFFFFFFFFL, 36)
      j += 1
    }
    sb.toString
  }
}

/** SparkEntry queries (or doors) over the benchmark's permuted copy of
  * the fixture tables. Setup builds, with the builders `Bench.runSetup`
  * calls, the stores the ops read; the ops would otherwise build them
  * inside their first run.
  */
final class EntryQueries(spark: SparkSession, dir: String, names: Seq[String],
    stores: Seq[(SparkSession, String) => Any], val warmPasses: Int) extends Workload {
  def minPasses: Int = 1

  def setup(): Unit = stores.foreach(_(spark, dir))
  def reset(): Unit = storeDir.foreach(Workload.deleteRec)
  def storeDir: Option[File] = Some(new File(Sources.fixturePath(dir, "")))

  val ops: Seq[Op] = names.map { name =>
    Op(name) { ctx =>
      val df = ctx.phase("construct")(SparkEntry.queries(name)(spark, dir))
      ctx.phase("plan")(df.queryExecution.executedPlan)
      df.queryExecution.tracker.phases.foreach { case (p, s) =>
        ctx.tag(s"plan_${p}_s", s.durationMs / 1e3)
      }
      ctx.phase("execute")(df.write.mode("overwrite").format("noop").save())
    }
  }

  private var ingested = 0L

  /** Writes each op's output for the DuckDB oracle comparison, with
    * timestamps as int64 micros the way the oracle reads them. The pass
    * runs in the timed session, so it warms that session's caches too;
    * the session's config is restored after it.
    */
  def check(outDir: String): Checked = {
    val tsType = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    val rows = new RowCounter
    spark.streams.addListener(rows)
    val failures = mutable.ArrayBuffer.empty[String]
    try names.foreach { name =>
      try SparkEntry.queries(name)(spark, dir).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += name
        System.err.println(s"[perfbench] check $name failed: $e")
      }
      spark.catalog.clearCache()
    } finally {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(rows)
      spark.conf.unset(tsType)
    }
    ingested = rows.rows.get
    Checked(0, failures.toSeq, names.filterNot(failures.contains))
  }

  def rowsPerPass: Long = ingested
}
