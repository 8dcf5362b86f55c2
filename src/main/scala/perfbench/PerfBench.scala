package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{SparkEntry, Tables}
import graft.engine.{Engine, Payload}

/** The benchmark's JVM side: runs one workload and writes a raw record
  * (timings, outcomes, traced layer counters) plus the outputs the
  * checker compares. Metrics are computed from the
  * record by `perfbench/run.py`; correctness is judged there too, apart
  * from this program.
  *
  * Usage: perfbench.PerfBench <workload> <seed> <seconds> <trace 0|1>
  *          <dataDir> <runDir> <cores> [scriptJson]
  */
object PerfBench {
  val Setups = 5
  /** A run makes one warm-up pass and then `seconds / 20` timed passes
    * (at least one), so the work of a run is fixed by its arguments and
    * does not depend on how fast the program happens to be. */
  val SecondsPerPass = 20.0

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def now(): Long = System.nanoTime()
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  final case class Op(name: String, ms: Double, ok: Boolean, detail: String,
                      layers: Map[String, Double])
  /** One whole pass: its wall time, its operations, and counters that
    * belong to the pass rather than to one operation. A warm-up pass
    * counts toward operations attempted but toward no timing. */
  final case class Pass(wallMs: Double, ops: Seq[Op], layers: Map[String, Double],
                        warmup: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, runDir, coresS) = args.take(7)
    val seed = seedS.toLong
    val timedPasses = math.max(1L, math.round(secondsS.toDouble / SecondsPerPass)).toInt
    val traced = traceS == "1"
    val cores = coresS.toInt
    new File(runDir).mkdirs()
    val entries = workload match {
      case "analytics" => battery("""^[qef]\d+b?_.*""")
      case "pipeline" => battery("""^[dstpmc]\d+b?_.*""")
      case "engine_mix" => Seq.empty
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up, repeated: session, Tables preflight + registration, engine
    // database. All but the last session are stopped again.
    val setupMs = mutable.ArrayBuffer.empty[Double]
    val tablesMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var engine: Engine = null
    for (i <- 1 to Setups) {
      val t0 = now()
      spark = session(cores, runDir)
      val t1 = now()
      Tables.preflight(spark, dataDir).foreach { case (n, msg) =>
        sys.error(s"table '$n' unreadable at $dataDir: $msg")
      }
      Tables.registerAll(spark, dataDir)
      val t2 = now()
      engine = new Engine(spark)
      val db = new File(s"$runDir/db$i").getAbsolutePath
      engine.execute(s"CREATE DATABASE mix LOCATION '$db'")
      setupMs += ms(t0, now())
      tablesMs += ms(t1, t2)
      if (i < Setups) spark.stop()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace(spark)) else None

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "setup_ms" -> setupMs.toSeq, "tables_load_ms" -> tablesMs.toSeq)
    val passes = workload match {
      case "engine_mix" =>
        val mix = new EngineMix(spark, engine, s"$runDir/db$Setups", runDir, trace)
        val script = json.readTree(new File(args(7)))
        record ++= mix.load(script)
        val ps = mix.run(script, timedPasses)
        record("peak_rss_mb") = peakRssMb()
        record ++= mix.finish()
        ps
      case _ =>
        val ps = runBattery(spark, entries, dataDir, runDir, seed, timedPasses, trace)
        record("peak_rss_mb") = peakRssMb()
        ps
    }
    record("passes") = passes.map { p =>
      Map("wall_ms" -> p.wallMs, "warmup" -> p.warmup, "layers" -> p.layers, "ops" -> p.ops.map { o =>
        val base = Map("name" -> o.name, "ms" -> o.ms, "ok" -> o.ok, "detail" -> o.detail)
        if (o.layers.isEmpty) base else base + ("layers" -> o.layers)
      })
    }
    trace.foreach(_.stop())
    json.writeValue(new File(s"$runDir/record.json"), record)
    spark.stop()
  }

  private def battery(pattern: String): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.filter(_._1.matches(pattern)).sortBy(_._1)

  /** Deployment settings only: cores, partitions, UI, time zone, scratch
    * dirs. Heap is set on the JVM command line. */
  def session(cores: Int, runDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(s"$runDir/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(s"$runDir/warehouse").getAbsolutePath)
      .getOrCreate()

  /** One warm-up pass in name order, then the timed passes over the
    * battery entries, each in a seeded order. The warm-up takes the
    * one-time costs (class loading, code generation, JIT) that otherwise
    * land on whichever entry of a kind runs first. The last pass's
    * results are kept for the checker. */
  private def runBattery(spark: SparkSession,
                         entries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                         dataDir: String, runDir: String, seed: Long, timedPasses: Int,
                         trace: Option[Trace]): Seq[Pass] = {
    val out = mutable.ArrayBuffer.empty[Pass]
    val last = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    for (pass <- 0 to timedPasses) {
      val warmup = pass == 0
      val order =
        if (warmup) entries
        else new scala.util.Random(seed * 1000003L + pass).shuffle(entries)
      val ops = mutable.ArrayBuffer.empty[Op]
      val p0 = now()
      for ((name, fn) <- order) {
        val key = s"$pass:$name"
        trace.foreach(_.open(key))
        val t0 = now()
        var built = t0
        val op = try {
          val df = fn(spark, dataDir)
          built = now()
          trace.foreach(_.running(key))
          val rows = df.collect()
          val t1 = now()
          last(name) = (df.schema, rows)
          Op(name, ms(t0, t1), ok = true, "", Map.empty)
        } catch {
          case e: Throwable =>
            last.remove(name)
            Op(name, ms(t0, now()), ok = false, String.valueOf(e.getMessage).take(300), Map.empty)
        }
        ops += trace.fold(op) { tr =>
          tr.record(key, "operators.build_ms", ms(t0, built))
          op.copy(layers = tr.close(key))
        }
      }
      out += Pass(ms(p0, now()), ops.toSeq, Map.empty, warmup)
    }
    // Outputs for the checker: each entry's last result, written as one
    // parquet file from the collected rows (no re-execution; a few
    // writes at a time), and the entries' oracle SQL.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try last.toSeq.map { case (name, (schema, rows)) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$runDir/results/$name")
      })
    }.foreach(_.get())
    finally pool.shutdown()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => entries.exists(_._1 == k) }
    json.writeValue(new File(s"$runDir/oracle_sql.json"), oracle)
    out.toSeq
  }

  /** JVM peak resident set, from /proc (Linux). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** The engine_mix workload: MultiSQL's own benchmark shapes plus
  * constrained inserts, range updates, deletes and compaction, all as
  * statement text through `Engine.execute`. */
final class EngineMix(spark: SparkSession, engine: Engine, dbDir: String, runDir: String,
                      trace: Option[Trace]) {
  import PerfBench.{Op, Pass, json, ms, now}
  private val reads = Files.newBufferedWriter(Paths.get(s"$runDir/reads.jsonl"), UTF_8)

  def load(script: JsonNode): Map[String, Any] = {
    for (t <- Seq("a", "b", "c"))
      spark.read.parquet(s"$runDir/src_$t.parquet")
        .createOrReplaceTempView(s"src_$t")
    engine.execute("CREATE TABLE mix.A (pk INTEGER)")
    engine.execute("INSERT INTO mix.A SELECT pk FROM src_a")
    engine.execute("CREATE INDEX a_pk ON mix.A (pk)")
    val loadMs = for (t <- Seq("B", "C")) yield {
      engine.execute(s"CREATE TABLE mix.$t (pk INTEGER AUTO_INCREMENT, fk INTEGER, val FLOAT)")
      val t0 = now()
      engine.execute(s"INSERT INTO mix.$t (fk, val) SELECT fk, val FROM src_${t.toLowerCase}")
      ms(t0, now())
    }
    val t0 = now()
    engine.execute("CREATE INDEX b_pk ON mix.B (pk)")
    val indexMs = ms(t0, now())
    engine.execute("CREATE TABLE mix.K (id INTEGER AUTO_INCREMENT, name TEXT NOT NULL, " +
      "email TEXT UNIQUE, score FLOAT DEFAULT 1.5)")
    for (t <- Seq("B", "C"))
      engine.query(s"SELECT pk, fk, val FROM mix.$t").coalesce(1)
        .write.mode("overwrite").parquet(s"$runDir/loaded_$t")
    Map("load_ms" -> loadMs, "index_ms" -> indexMs,
      "load_rows" -> script.get("b_rows").asLong * 2)
  }

  private def dataFiles(): Map[String, Long] = {
    val root = new File(dbDir).toPath
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .filter(p => root.relativize(p).iterator().asScala
        .forall(c => !c.toString.startsWith(".") && !c.toString.startsWith("_")))
      .map(p => p.toString -> Files.size(p)).toMap
  }

  /** The script's first pass as warm-up, then `timedPasses` timed ones. */
  def run(script: JsonNode, timedPasses: Int): Seq[Pass] = {
    val passes = script.get("passes")
    val out = mutable.ArrayBuffer.empty[Pass]
    for (p <- 0 to timedPasses) {
      val ops = mutable.ArrayBuffer.empty[Op]
      val p0 = now()
      for ((st, i) <- passes.get(p).asScala.zipWithIndex) {
        val kind = st.get("kind").asText
        val sql = st.get("sql").asText
        val expectReject = st.path("expect").asText == "reject"
        val key = s"$p:$i"
        // traced: the front end alone (Engine.query builds the plan
        // without running it), then the file listing the statement
        // starts from
        val before = trace.map { tr =>
          tr.open(key)
          if (sql.startsWith("SELECT")) {
            val b0 = now()
            engine.query(sql)
            tr.record(key, "engine.build_ms", ms(b0, now()))
          }
          dataFiles()
        }
        trace.foreach(_.running(key))
        val t0 = now()
        val (ok, detail, rows) =
          try {
            engine.execute(sql) match {
              case Payload.Select(_, rs) => (true, "", Some(rs))
              case other => (!expectReject, other.toString, None)
            }
          } catch {
            case e: Throwable =>
              val msg = String.valueOf(e.getMessage).take(300)
              val isConstraint = "(?i).*(duplicate|unique|not null).*".r.matches(msg.replace('\n', ' '))
              (expectReject && isConstraint, "rejected: " + msg, None)
          }
        val elapsed = ms(t0, now())
        val layers = trace.fold(Map.empty[String, Double]) { tr =>
          val after = dataFiles()
          val b = before.get
          val written = after.keySet -- b.keySet
          tr.record(key, "engine.statements", 1)
          tr.record(key, "store.files_written", written.size)
          tr.record(key, "store.files_retired", (b.keySet -- after.keySet).size)
          tr.record(key, "store.bytes_written", written.toSeq.map(after).sum.toDouble)
          if (kind == "compact") tr.record(key, "store.compact_ms", elapsed)
          tr.close(key)
        }
        rows.foreach(rs => reads.write(json.writeValueAsString(Map("pass" -> p, "i" -> i, "rows" -> rs)) + "\n"))
        ops += Op(kind, elapsed, ok, detail, layers)
      }
      val wall = ms(p0, now())
      out += Pass(wall, ops.toSeq,
        trace.fold(Map.empty[String, Double])(_ => Map("store.data_files" -> dataFiles().size.toDouble)),
        warmup = p == 0)
    }
    reads.close()
    out.toSeq
  }

  /** Final tables for the checker, and the storage footprint. */
  def finish(): Map[String, Any] = {
    var live = 0L
    for (t <- Seq("A", "B", "C", "K")) {
      val df = engine.query(s"SELECT * FROM mix.$t")
      df.coalesce(1).write.mode("overwrite").parquet(s"$runDir/final_$t")
      live += spark.read.parquet(s"$runDir/final_$t").count()
    }
    Map("stored_bytes" -> dataFiles().values.sum, "live_rows" -> live)
  }
}
