package graftbench

import graft.{Capability, GraftSession, Registry, Tables}
import graft.sources.ArrowIpc
import org.apache.spark.sql.{DataFrame, SparkSession}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark harness JVM: one long-lived `local[cores]` session, one
  * untimed warm pass, then a closed loop with one client (each query starts
  * when the previous one has finished) over the query list rotated to
  * start at a seeded position, materialising each query through the
  * `noop` sink, in whole passes: at least two, and until `--seconds` have
  * been spent. Every query's output is then written once as parquet for
  * the oracle check.
  *
  * With `--trace 1` every other query of a pass (alternating between
  * passes) runs with [[Tracer]] attached and is split into build / plan /
  * execute spans. Loader and Arrow IPC costs are then timed by direct
  * calls.
  *
  * Usage (normally launched by perfbench/run.py):
  * {{{
  * graftbench.Main --queries q01_filter_project,q03_group_agg --seed 1
  *   --seconds 10 --trace 0 --cores 4 --data <sf dir> --out <run dir>
  * }}}
  * Writes `<out>/run.json` and, when traced, `<out>/spans.json`. */
object Main {

  final case class Args(
      queries: Seq[String], seed: Long, seconds: Int, trace: Boolean,
      cores: Int, data: String, out: Path)

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come in --name value pairs")
    val m = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val known = Set("--queries", "--seed", "--seconds", "--trace", "--cores", "--data", "--out")
    require(m.keySet.subsetOf(known) && m.size == known.size,
      s"expected exactly ${known.mkString(" ")}")
    val a = Args(
      m("--queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      m("--seed").toLong, m("--seconds").toInt, m("--trace") == "1",
      m("--cores").toInt, m("--data"), Paths.get(m("--out")))
    require(a.queries.nonEmpty, "no queries")
    require(a.seconds >= 1 && a.cores >= 1, "seconds and cores must be positive")
    a
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def now(): Long = System.currentTimeMillis()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val caps: Seq[Capability] = a.queries.map { n =>
      val c = Registry.byName.getOrElse(n, sys.error(s"unknown query $n"))
      require(c.oracle.isDefined, s"query $n has no DuckDB oracle")
      c
    }
    Files.createDirectories(a.out)
    val rt = ManagementFactory.getRuntimeMXBean
    val conditions = Map(
      "jvm_version" -> System.getProperty("java.runtime.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "jvm_uptime_at_main_s" -> rt.getUptime / 1e3)

    val t0 = System.nanoTime()
    val spark = GraftSession.local(a.cores, a.cores, "graftbench")
    val sessionS = (System.nanoTime() - t0) / 1e9

    // every pass runs the queries in the same cyclic order, starting at a
    // query the seed picks. Queries share state (persisted subplans of the
    // dedup pipelines, the heap, compiled code), so a query's time depends
    // on what ran before it; a fixed cycle keeps each query's predecessor
    // the same in every pass and every run.
    val first = java.lang.Math.floorMod(a.seed, caps.size.toLong).toInt
    def order(): Seq[Capability] = caps.drop(first) ++ caps.take(first)

    // warm pass: untimed, pays code generation and class loading through
    // the same `noop` sink as the timed passes, so the timed passes reuse
    // its generated classes. Its queries run `cores` at a time: the cold
    // cost is mostly single-threaded driver work (planning, code
    // generation), so this takes about half the time of a sequential pass.
    val tw = System.nanoTime()
    val warm = inParallel(a.cores, order())(c => noop(c.run(spark, a.data)))
    liveHeapMb() // start the timed passes from a collected heap
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = rt.getUptime / 1e3

    val tracer = if (a.trace) Some(new Tracer) else None
    val sc = spark.sparkContext
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val heapMb = mutable.ArrayBuffer[Double]()
    var spent = 0L
    var pass = 0
    while (pass < 2 || spent < a.seconds * 1000000000L) {
      pass += 1
      val ps = System.nanoTime()
      order().zipWithIndex.foreach { case (c, i) =>
        val qid = s"p${pass}q$i"
        // traced runs trace every other query, alternating between passes,
        // so each query is timed both ways under the same warm-up
        val traced = tracer.filter(_ => (i + pass) % 2 == 0)
        traced.foreach { t =>
          sc.addSparkListener(t)
          spark.listenerManager.register(t)
        }
        val s = System.nanoTime()
        val ok = try {
          traced match {
            case Some(t) => runTraced(spark, t, c, qid, a.data)
            case None => noop(c.run(spark, a.data))
          }
          true
        } catch { case e: Throwable =>
          System.err.println(s"[graftbench] ${c.name} failed: ${e.getMessage}")
          false
        }
        samples += Map("pass" -> pass, "query" -> c.name, "query_id" -> qid,
          "seconds" -> (System.nanoTime() - s) / 1e9, "ok" -> ok,
          "traced" -> traced.isDefined)
        traced.foreach { t =>
          org.apache.spark.GraftbenchBus.drain(sc)
          sc.removeSparkListener(t)
          spark.listenerManager.unregister(t)
        }
      }
      val passNs = System.nanoTime() - ps
      spent += passNs
      passes += Map("pass" -> pass, "wall_s" -> passNs / 1e9,
        "persistent_rdds" -> sc.getPersistentRDDs.size)
      heapMb += liveHeapMb()
    }

    // each output once, after the timed passes, for the oracle comparison
    // made after the JVM exits
    val written = inParallel(a.cores, caps) { c =>
      c.run(spark, a.data).coalesce(1).write.mode("overwrite")
        .parquet(a.out.resolve("results").resolve(c.name).toString)
    }

    val record = mutable.LinkedHashMap[String, Any](
      "queries" -> caps.map(_.name),
      "oracle" -> caps.map(c => c.name -> c.oracle.get).toMap,
      "cores" -> a.cores,
      "seed" -> a.seed,
      "conditions" -> conditions,
      "setup" -> Map("setup_s" -> setupS, "session_start_s" -> sessionS,
        "warm_pass_s" -> warmS),
      "warm" -> warm,
      "written" -> written,
      "passes" -> passes,
      "samples" -> samples,
      "heap_live_mb" -> heapMb)

    tracer.foreach { t =>
      val pq = t.perQuery(a.cores)
      record("layer_queries") = samples.filter(_("traced") == true).map { s =>
        Map("pass" -> s("pass"), "query" -> s("query"),
          "metrics" -> pq.getOrElse(s("query_id").toString, Map.empty))
      }
      record("direct") = direct(spark, a)
      json.writeValue(a.out.resolve("spans.json").toFile, t.spans.map(_.toMap))
    }
    spark.stop()
    json.writeValue(a.out.resolve("run.json").toFile, record)
  }

  /** Runs `f` on every query, `threads` at a time; per query, whether it
    * threw (and what) and its wall time. */
  private def inParallel(threads: Int, cs: Seq[Capability])(
      f: Capability => Unit): Map[String, Map[String, Any]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      cs.map { c =>
        c.name -> pool.submit(new java.util.concurrent.Callable[Map[String, Any]] {
          def call(): Map[String, Any] = {
            val s = System.nanoTime()
            val err = try { f(c); None } catch {
              case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
            }
            Map("ok" -> err.isEmpty, "error" -> err.orNull,
              "seconds" -> (System.nanoTime() - s) / 1e9)
          }
        })
      }.map { case (n, fut) => n -> fut.get() }.toMap
    } finally pool.shutdown()
  }

  /** Heap still in use after full collections, repeated until it stops
    * falling: each collection lets Spark's ContextCleaner drop the blocks
    * of datasets that became unreachable, which the next one frees. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (rounds < 6 && cur < prev * 0.99) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    math.min(prev, cur)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One query as query → build / plan / execute spans; jobs started
    * inside a phase carry that phase's span id as their parent. */
  private def runTraced(
      spark: SparkSession, t: Tracer, c: Capability, qid: String, data: String): Unit = {
    val sc = spark.sparkContext
    val qs = now()
    def phase[T](kind: String)(f: => T): T = {
      val id = s"$qid.$kind"
      sc.setLocalProperty(Tracer.SpanKey, id)
      val s = now()
      try f finally t.addSpan(Span(id, qid, kind, s"${c.name} $kind", qid, s, now()))
    }
    sc.setLocalProperty(Tracer.QueryKey, qid)
    try {
      val df = phase("build")(c.run(spark, data))
      phase("plan")(df.queryExecution.executedPlan)
      phase("execute")(noop(df))
    } finally {
      t.addSpan(Span(qid, null, "query", c.name, qid, qs, now()))
      sc.setLocalProperty(Tracer.SpanKey, null)
      sc.setLocalProperty(Tracer.QueryKey, null)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally st.close()
  }

  /** Layer costs timed by calling the layer directly: every table loader
    * (schema resolution included) and an Arrow IPC write and read of
    * `lineitem`, three times each, medians reported. */
  private def direct(spark: SparkSession, a: Args): Map[String, Any] = {
    val reps = 3
    def secs(f: => Unit): Double = {
      val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9
    }
    val loadMs = Tables.names.filter(n => Files.exists(Paths.get(a.data, s"$n.parquet")))
      .map(n => median((1 to reps).map(_ => secs(Tables.load(spark, a.data, n))))).sum * 1e3
    val ipcDir = a.out.resolve("ipc_lineitem")
    val writes = (1 to reps).map { _ =>
      rmTree(ipcDir)
      secs(ArrowIpc.write(Tables.lineitem(spark, a.data), ipcDir.toString))
    }
    val reads = (1 to reps).map(_ => secs(noop(ArrowIpc.read(spark, ipcDir.toString))))
    val written = dirBytes(ipcDir)
    rmTree(ipcDir)
    val input = Files.size(Paths.get(a.data, "lineitem.parquet"))
    Map(
      "tables_load_ms" -> loadMs,
      "ipc_write_s" -> median(writes),
      "ipc_read_s" -> median(reads),
      "bytes_written_mb" -> written / 1e6,
      "write_amp" -> written.toDouble / input)
  }
}
