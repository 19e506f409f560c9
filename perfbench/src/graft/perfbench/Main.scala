package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. The run loop calls, in order:
  * `prepare` several times (each into fresh directories; the last one
  * is kept), `start`, then `stage` / `op` / `read` / `probe` until the
  * run is long enough, then `finish`, `checks` and `space`. The first
  * `prepare` and `start` (which runs one untimed op and read) carry the
  * JVM and codegen first-touch costs, so they land in set-up.
  */
trait Workload {
  /** Ops per whole cycle; a run ends only on a cycle boundary. */
  def cycle: Int
  /** Input rows one op consumes. */
  def rowsPerOp: Long
  def prepare(dir: String): Unit
  /** Start maintainers and run one untimed op and read; set-up. */
  def start(): Unit
  /** Build op `i`'s input; not timed, must start no Spark job. */
  def stage(i: Int): Unit
  /** The timed op: one recompute, or one tick from hand-off to publish. */
  def op(i: Int): Unit
  /** Timed reads after each op. */
  def readsPerOp: Int
  /** Timed read `k` after op `i`; returns a failure message, if any. */
  def read(i: Int, k: Int): Option[String]
  /** Store state after op `i`, read by listing files; starts no Spark job. */
  def probe(i: Int): Map[String, Any]
  def finish(): Unit
  def checks(): Seq[(String, Option[String])]
  /** (bytes on disk, live rows they hold): the outputs at run end, or
    * for a store, both summed over the run's ticks so their ratio is the
    * cycle's mean space per row.
    */
  def space(): (Long, Long)
  /** Drop harness-side state so the heap reading holds the program's. */
  def release(): Unit = ()
  /** Run-level figures a workload adds to the record. */
  def summary: Map[String, Any] = Map.empty
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, out: String)

  /** Set-ups per run; `setup_s` takes their median. */
  val PrepareReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("work"), need("out"))
  }

  /** The session `graft.Bench` builds: local[cores], shuffle partitions
    * = cores, AQE on, partition coalescing off, UTC. Scratch state stays
    * under `work`.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long, work: String,
               trace: Trace): Workload = name match {
    case "retrain" => new Retrain(spark, seed, work, trace)
    case "ratings_cdc" => new RatingsCdc(spark, seed, work)
    case "doc_dedup" => new DocDedup(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val trace = new Trace
    val out = mutable.LinkedHashMap.empty[String, Any]
    val spark = trace.span("setup", "session")(session(a.cores, a.work))
    val recorder = if (a.trace) {
      val r = new SparkRecorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None
    val w = workload(a.workload, spark, a.seed, a.work, trace)

    val prepare = (0 until PrepareReps).map { k =>
      trace.span("setup", "prepare")(w.prepare(s"${a.work}/prepare-$k"))
      trace.lastSeconds("prepare")
    }
    trace.span("setup", "start")(w.start())
    val setupS = trace.lastSeconds("session") + Stats.median(prepare) + trace.lastSeconds("start")

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs = gcBeans.map(_.getCollectionTime.max(0L)).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    var attempted = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (failures.isEmpty && (i % w.cycle != 0 || i == 0 || elapsed < a.seconds)) {
      i += 1
      attempted += 1
      try {
        w.stage(i)
        trace.span("op", s"op-$i")(w.op(i))
        val opS = trace.lastSeconds(s"op-$i")
        val reads = (0 until w.readsPerOp).map { k =>
          val err = trace.span("read", s"read-$i-$k")(w.read(i, k))
          err.foreach(e => failures += s"op $i read $k: $e")
          trace.lastSeconds(s"read-$i-$k")
        }
        val probe = trace.span("probe", s"probe-$i")(w.probe(i))
        if (failures.isEmpty)
          ops += Map("op_s" -> opS, "read_s" -> reads, "rows" -> w.rowsPerOp) ++ probe
      } catch {
        case e: Throwable =>
          failures += s"op $i: ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      }
    }
    val measureS = elapsed
    val gcS = (gcMs - gc0) / 1e3
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    trace.span("check", "finish")(w.finish())
    val checks = trace.span("check", "checks") {
      try w.checks()
      catch { case e: Throwable => e.printStackTrace(); Seq("checks" -> Some(e.toString)) }
    }
    val (bytes, liveRows) = trace.span("check", "space")(w.space())
    val retainedMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    w.release()
    val heapLiveMb = liveHeapBytes() / 1048576.0

    out("workload") = a.workload
    out("seed") = a.seed
    out("attempted") = attempted
    out("failed") = failures.size
    out("failures") = failures.toSeq
    out("checks") = checks.map { case (n, err) => Map("name" -> n, "ok" -> err.isEmpty,
      "detail" -> err.getOrElse("")) }
    out("setup_s") = setupS
    out("setup_parts") = Map("session_s" -> trace.lastSeconds("session"), "prepare_s" -> prepare,
      "start_s" -> trace.lastSeconds("start"))
    out("measure_s") = measureS
    out("cycle") = w.cycle
    out("summary") = w.summary
    out("ops") = ops.toSeq
    out("store_bytes") = bytes
    out("live_rows") = liveRows
    out("heap_live_mb") = heapLiveMb
    out("heap_peak_mb") = heapPeakMb
    out("jvm_gc_s") = gcS
    out("jvm_jit_s") = jitS
    out("retained_mb") = retainedMb
    out("cores") = a.cores
    out("jvm") = Map(
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "blas" -> dev.ludovic.netlib.blas.JavaBLAS.getInstance().getClass.getSimpleName)
    out("spans") = trace.spanJson
    recorder.foreach { r =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      out("spark") = r.json
    }
    spark.stop()
    val json = Json.write(out.toMap)
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Bytes of live objects: the total of a class histogram, which the
    * JVM takes right after a full collection. A first collection and a
    * pause come before it, so Spark's ContextCleaner can drop the
    * broadcast and shuffle blocks whose handles that collection freed.
    */
  def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(500)
    val histogram = ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array.empty[String]), Array(classOf[Array[String]].getName))
      .toString
    histogram.linesIterator.toSeq.reverse.collectFirst {
      case l if l.trim.startsWith("Total") => l.trim.split("\\s+")(2).toLong
    }.getOrElse(throw new IllegalStateException("no total in the class histogram"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
