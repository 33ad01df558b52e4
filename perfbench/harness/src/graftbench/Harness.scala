package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, hash, isnull, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Closed-loop runner for one workload: one client runs the workload's
  * queries one at a time through `graft.SparkEntry.queries`, each ending in
  * a full-row digest, in a `local[cores]` session.
  *
  * Phases: set-up (session plus one untimed warm pass), timed passes (at
  * least [[MinPasses]]) until `--seconds` have passed, then, when asked, a check pass that writes each
  * result as parquet for the oracle comparison. With `--trace 1` untraced
  * and traced passes alternate; traced passes register a [[Tracer]].
  *
  * Arguments (all `--key value`): inputs, queries (comma list), seconds,
  * trace (0|1), out (result JSON), spans (span JSONL), t0-ms (epoch ms the
  * launcher started this JVM), check-dir and check (comma list, optional),
  * fault-throw (query names that throw instead of running, optional),
  * fault-warm (query names that throw in the warm pass only, optional),
  * conf (comma list of k=v Spark settings, optional).
  */
object Harness {
  private val MB = 1024.0 * 1024.0

  /** Timed passes per untraced run at the least: the per-pass medians need
    * several. A traced run makes at least four.
    */
  val MinPasses = 3

  final case class Exec(name: String, latencyS: Double, buildS: Double, cleanupS: Double,
      heapMb: Double, digest: String, error: String, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = opt.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val dir = opt("inputs")
    val names = list("queries")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val faults = list("fault-throw").toSet
    val warmFaults = list("fault-warm").toSet
    val cores = Runtime.getRuntime.availableProcessors

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    list("conf").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    def throwing(n: String) =
      (_: SparkSession, _: String) => throw new RuntimeException(s"deliberate fault in $n")
    val queries = graft.SparkEntry.queries ++ faults.map(n => n -> throwing(n))
    val tracer = if (traced) Some(new Tracer(cores)) else None

    def freeAll(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      graft.sources.Staging.cleanup(spark)
    }

    /** Heap still live when a query has finished, cached blocks included:
      * a full collection (which also lets the ContextCleaner reap the dead
      * broadcasts of loop rounds), then the occupancy.
      */
    def liveHeapMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }

    var execCount = 0
    def execute(name: String, trace: Option[Tracer], warmup: Boolean = false): Exec = {
      execCount += 1
      val id = s"q$execCount-$name"
      trace.foreach { t =>
        sc.addSparkListener(t)
        spark.listenerManager.register(t)
      }
      sc.setLocalProperty(Tracer.QueryProperty, id)
      val gc0 = gcMillis()
      val t0 = Clock.nowMs
      var t1 = t0
      val (digest, error) =
        try {
          val query = if (warmup && warmFaults(name)) throwing(name) else queries(name)
          val df = query(spark, dir)
          t1 = Clock.nowMs
          (Digest.of(df), null)
        } catch { case e: Throwable => ("", e.toString.linesIterator.next()) }
      val t2 = Clock.nowMs
      val gcS = (gcMillis() - gc0) / 1e3
      sc.setLocalProperty(Tracer.QueryProperty, null)
      val heapMb = liveHeapMb()
      freeAll()
      val t3 = Clock.nowMs
      val layers = trace.fold(Map.empty[String, Double]) { t =>
        Bus.drain(sc)
        sc.removeSparkListener(t)
        spark.listenerManager.unregister(t)
        val calls = Seq(Span(id, s"$id/build", id, "build", "call", t0, t1),
          Span(id, s"$id/execute", id, "execute", "call", t1, t2),
          Span(id, s"$id/cleanup", id, "cleanup", "call", t2, t3))
        t.finish(id, name, t0, t2, calls) ++ Map("driver.build_s" -> (t1 - t0) / 1e3,
          "driver.cleanup_s" -> (t3 - t2) / 1e3, "jvm.gc_s" -> gcS)
      }
      Exec(name, (t2 - t0) / 1e3, (t1 - t0) / 1e3, (t3 - t2) / 1e3, heapMb, digest, error, layers)
    }

    val warm = names.map(execute(_, None, warmup = true))
    val setupEndMs = Clock.nowMs

    // closed loop: whole passes, at least MinPasses, until `seconds` have
    // passed. A traced run orders its passes untraced, traced, traced,
    // untraced, so the passes still warming up weigh on both sides alike.
    final case class Pass(traced: Boolean, execs: Seq[Exec])
    val passes = mutable.ArrayBuffer.empty[Pass]
    val minPasses = if (traced) 4 else MinPasses
    val start = Clock.nowMs
    while (passes.size < minPasses || (Clock.nowMs - start) / 1e3 < seconds) {
      val tracePass = traced && passes.size % 4 % 3 != 0
      passes += Pass(tracePass, names.map(execute(_, if (tracePass) tracer else None)))
    }

    val check = list("check").map { name =>
      val out = s"${opt("check-dir")}/$name"
      name -> (try {
        queries(name)(spark, dir).write.mode("overwrite").parquet(out)
        Digest.of(spark.read.parquet(out))
      } catch { case e: Throwable => "error: " + e.toString.linesIterator.next() }).tap(_ => freeAll())
    }

    tracer.foreach(t => Files.write(Paths.get(opt("spans")),
      t.spans.map(Json.span).asJava, StandardCharsets.UTF_8))
    val result = Json.obj(
      "spark_version" -> spark.version,
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / MB,
      "setup_s" -> (setupEndMs - opt("t0-ms").toDouble) / 1e3,
      "warm" -> warm.map(Json.exec),
      "passes" -> passes.toSeq.map(p => Json.Raw(Json.obj(
        "traced" -> p.traced, "execs" -> p.execs.map(Json.exec)))),
      "check" -> check.toMap,
      "oracle" -> list("check").flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    Files.writeString(Paths.get(opt("out")), result)
    spark.stop()
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

}

/** Wall clock in epoch milliseconds with nanosecond resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Order-independent digest of every row and column of a result.
  *
  * Columns are taken in name order; each row hashes all of them (with a
  * null marker per column, so nulls cannot trade places) under two hash
  * functions, and the digest is the row count plus the wrapping sums of
  * both hashes. The rows are produced by the query's own physical plan,
  * sorts included: nothing above it lets the optimizer prune columns.
  */
object Digest {
  def of(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val order = df.schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)
    val cols = order.toSeq.flatMap { i =>
      val c = col(s"c$i")
      Seq(if (hasMap(df.schema.fields(i).dataType)) c.cast("string") else c, isnull(c))
    }
    val qe = renamed.select(xxhash64(cols: _*), hash(cols: _*)).queryExecution
    // one SQL execution, as an action runs, so query-execution listeners
    // see its planning; the rows are read without an encoder
    val parts = SQLExecution.withNewExecutionId(qe, Some("digest")) {
      qe.toRdd.mapPartitions { it =>
        var n, h1, h2 = 0L
        it.foreach { r => n += 1; h1 += r.getLong(0); h2 += r.getInt(1) }
        Iterator((n, h1, h2))
      }.collect()
    }
    val (n, h1, h2) =
      parts.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    f"$n:$h1%016x:$h2%016x"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}

/** Minimal JSON writer for the result file and the spans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def exec(e: Harness.Exec): Raw = Raw(obj("name" -> e.name, "latency_s" -> e.latencyS,
    "build_s" -> e.buildS, "cleanup_s" -> e.cleanupS, "heap_mb" -> e.heapMb, "digest" -> e.digest, "error" -> e.error,
    "layers" -> e.layers))

  def span(s: Span): String = obj(Seq("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
    "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs: _*)
}
