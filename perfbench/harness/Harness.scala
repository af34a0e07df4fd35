package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{PhaseSentinel, SparkEntry}
import graft.etl.CricketEtl

/** One benchmark run in a fresh JVM: set up, run one workload's timed op
  * list, then write every op's time and output fingerprint (and, when
  * traced, the per-layer metrics) to a JSON file. `perfbench/run.py`
  * launches it, checks the outputs and prints the metrics.
  *
  * Arguments, all `--key value`:
  *   workload  interactive | ingest | expect
  *   data      star-schema corpus directory (the queries' sfDir)
  *   rounds    op names, `,` within a pass and `;` between passes
  *   ingest    Cricsheet corpus root (corpus/, delta_NN/), ingest only
  *   work      scratch directory for the ETL warehouse
  *   trace     1 to record spans and Spark listener metrics
  *   dump      expect only: where each result is written as parquet
  *   launch-ns epoch nanos at which the JVM was launched
  *   out       result file
  */
object Harness {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  /** The engine's own bench session settings, on all local cores. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.buffer.pageSize", "1m")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  /** Row count plus an order-insensitive hash: the wrapping sum of a
    * 64-bit hash of each row's canonical text. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(s, 0xbe7c).toLong & 0xffffffffL)
    }
    (rows.length.toLong, f"$sum%016x")
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val traced = a.get("trace").contains("1") || workload == "expect"
    val rounds = a.getOrElse("rounds", "").split(";").toSeq
      .map(_.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    val cpus = Runtime.getRuntime.availableProcessors
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))

    val spark = session(cpus)
    val trace = if (traced) Some(new Trace(spark, tmpDir)) else None
    trace.foreach(_.install())
    val defs = SparkEntry.defs.map(d => d.name -> d).toMap
    val opsJson = mutable.ArrayBuffer.empty[String]

    def span[T](name: String)(body: => T): T = trace match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
    def op[T](body: => T): T = trace match {
      case Some(t) => t.op(body)
      case None => body
    }

    /** Time one registered query: build its DataFrame, then collect it as
      * a client would. The fingerprint is taken after the clock stops. */
    def query(kind: String, phase: String, name: String): Double = {
      val rows0 = trace.map(_.streamInputRows).getOrElse(0L)
      val t0 = System.nanoTime()
      val out: Either[Throwable, Array[Row]] =
        try Right(op {
          val df = span("operators") { defs(name).fn(spark, data) }
          trace.foreach { t =>
            val qe = df.queryExecution
            qe.executedPlan
            val ph = qe.tracker.phases
            ph.get("optimization").foreach(p => t.record("catalyst.optimize", p.durationMs.toDouble))
            ph.get("planning").foreach(p => t.record("catalyst.plan", p.durationMs.toDouble))
          }
          span("exec") { df.collect() }
        })
        catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      trace.foreach(_.scanTmp())
      val fields = out match {
        case Right(rows) =>
          val (n, h) = fingerprint(rows)
          s""""rows":$n,"hash":"$h""""
        case Left(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          s""""error":${q(String.valueOf(e))}"""
      }
      val streamRows = trace.map { t =>
        drainListenerBus(spark)
        s""","stream_rows":${t.streamInputRows - rows0}"""
      }.getOrElse("")
      if (workload == "expect" && out.isRight)
        defs(name).fn(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"${a("dump")}/$name")
      opsJson += s"""{"kind":"$kind","phase":"$phase","name":"$name","ms":$ms,$fields$streamRows}"""
      ms
    }

    /** Time one ETL call, then read back what it wrote (untimed). */
    def etl(kind: String, name: String, spanName: String)(call: => Unit)(
        check: => String): Double = {
      val t0 = System.nanoTime()
      val err =
        try { op { span(spanName)(call) }; None }
        catch { case e: Throwable => Some(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      trace.foreach(_.scanTmp())
      val fields = err match {
        case None => check
        case Some(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          s""""error":${q(String.valueOf(e))}"""
      }
      opsJson += s"""{"kind":"$kind","phase":"timed","name":"$name","ms":$ms,$fields}"""
      ms
    }

    val work = a("work")
    val warehouse = s"$work/warehouse"
    val byType = s"$work/matches_by_type"
    def partitions(): String =
      spark.read.parquet(byType).groupBy("p_type").count().collect()
        .map(r => s"${q(r.getString(0))}:${r.getLong(1)}").sorted.mkString("{", ",", "}")

    val t0Warm = System.nanoTime()
    workload match {
      case "interactive" =>
        // two untimed passes: the first pays class loading and codegen,
        // the second lets the JIT settle before the clock starts
        rounds.head.sorted.foreach(query("query", "warm", _))
        rounds.head.sorted.reverse.foreach(query("query", "warm", _))
      case "ingest" =>
        val root = a("ingest")
        CricketEtl.writeTables(spark, s"$root/warmup", s"$work/warmup_warehouse")
        CricketEtl.upsertMatchesByPartition(spark, s"$root/warmup", s"$work/warmup_by_type")
        CricketEtl.upsertMatchesByPartition(spark, s"$root/warmup_delta", s"$work/warmup_by_type")
      case _ =>
    }
    val warmMs = (System.nanoTime() - t0Warm) / 1e6
    val setupMs = (System.currentTimeMillis() * 1e6 - a("launch-ns").toDouble) / 1e6
    val sentinelPre = PhaseSentinel.json(cpus)

    val setupCompileMs = trace.map(_.counters()._1 / 1e6).getOrElse(0.0)
    val c0 = trace.map(_.opTotals)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val passMs = mutable.ArrayBuffer.empty[Double]
    var deltaRows = 0L
    workload match {
      case "interactive" =>
        rounds.foreach(r => passMs += r.map(query("query", "timed", _)).sum)
      case "ingest" =>
        val root = a("ingest")
        var ms = etl("load", "writeTables", "etl.load") {
          CricketEtl.writeTables(spark, s"$root/corpus", warehouse)
        } {
          val d = spark.read.parquet(s"$warehouse/deliveries")
            .agg(count(lit(1)), sum("runs_total")).head()
          val m = spark.read.parquet(s"$warehouse/matches").count()
          s""""delivery_rows":${d.getLong(0)},"runs_total":${d.getLong(1)},"distinct_matches":$m"""
        }
        ms += etl("partition_load", "upsertMatchesByPartition", "etl.partition_load") {
          CricketEtl.upsertMatchesByPartition(spark, s"$root/corpus", byType)
        } { s""""partitions":${partitions()}""" }
        val deltas = new java.io.File(root).list().filter(_.startsWith("delta_")).sorted
        deltas.foreach { d =>
          deltaRows += new java.io.File(s"$root/$d").list().length
          ms += etl("upsert", d, "etl.upsert") {
            CricketEtl.upsertMatchesByPartition(spark, s"$root/$d", byType)
          } { s""""partitions":${partitions()}""" }
        }
        ms += rounds.headOption.getOrElse(Nil).map(query("drain", "timed", _)).sum
        passMs += ms
      case "expect" =>
        new java.io.File(a("dump")).mkdirs()
        rounds.flatten.distinct.sorted.foreach(query("query", "expect", _))
        val oracles = SparkEntry.oracleSql.filter(kv => rounds.flatten.contains(kv._1))
          .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
        Files.writeString(Paths.get(s"${a("dump")}/oracle_sql.json"), oracles)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val t1Ms = System.currentTimeMillis()
    val c1 = trace.map(_.opTotals)

    System.gc()
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val sentinelPost = PhaseSentinel.json(cpus)

    val layers = trace.map { t =>
      val corpusBytes = a.get("ingest").map(r => dirBytes(s"$r/corpus")).getOrElse(0L)
      val ((a0, b0, g0), (a1, b1, g1)) = (c0.get, c1.get)
      val metrics = t.layerMetrics(t0Ms, t1Ms, passMs.sum, cpus, (a1 - a0, b1 - b0, g1 - g0),
        corpusBytes, dirBytes(warehouse), deltaRows)
      (metrics :+ (("codegen.setup_compile_ms", setupCompileMs, "ms")))
        .map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
        .mkString("{", ",", "}")
    }.getOrElse("{}")
    val json =
      s"""{"workload":"$workload","cpus":$cpus,"setup_ms":$setupMs,"warm_ms":$warmMs,""" +
        s""""wall_ms":$wallMs,"pass_ms":${passMs.mkString("[", ",", "]")},""" +
        s""""heap_live_mb":$heapMb,""" +
        s""""sentinel_pre":$sentinelPre,"sentinel_post":$sentinelPost,""" +
        s""""layers":$layers,"ops":${opsJson.mkString("[", ",", "]")},""" +
        s""""spans":${trace.map(_.spansJson).getOrElse("[]")}}"""
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
    // see graft.Bench: a finished session can linger on a non-daemon thread
    System.exit(0)
  }
}
