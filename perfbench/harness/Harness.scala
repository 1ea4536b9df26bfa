package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.{GraftSession, SparkEntry}
import graft.cli.Main
import graft.core.{Checkpoints, Config, ReplicaEngine}

/** The benchmark's JVM half. run.py stages the inputs, starts the sink
  * database and launches this with a properties file; this warms up,
  * runs the timed loop of one workload for `seconds`, and writes one JSON
  * record for run.py to check and summarize.
  *
  * The program is driven only through public entry points: replication
  * through `graft.cli.Main.run` (untraced) or through `Main.parseArgs`,
  * `Config.fromProperties` and `ReplicaEngine.read`/`transform`/`write`
  * (traced, so each phase gets its own span); queries through
  * `SparkEntry.queries`. A traced run spends the first half of its time
  * untraced and the second half traced, and reports both pass times.
  */
object Harness {

  final case class Op(kind: String, name: String, wallS: Double, rows: Long)
  final case class Pass(traced: Boolean, wallS: Double, ops: Seq[Op])

  private val sb = new StringBuilder // error log, written to the record
  private var failures = 0
  private def fail(msg: String): Unit = { failures += 1; sb.append(msg).append('\n') }

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try p.load(in) finally in.close()
    val conf = p.asScala.toMap
    val workload = conf("workload")
    val seconds = conf("seconds").toDouble
    val trace = conf("trace") == "1"
    val seed = conf("seed").toLong

    val spark = GraftSession.getOrCreate("perfbench")
    System.err.println(s"[harness] session ready ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms after JVM start")
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = workload match {
      case "repl_pg" | "repl_jdbc" => new Replication(spark, conf)
      case "sql_tpch" | "iter_ops" => new Queries(spark, conf, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.warmUp()
    val readyMs = System.currentTimeMillis()

    val passes = mutable.ArrayBuffer.empty[Pass]
    // passes until the next one would end after the budget; at least one
    def loop(budgetS: Double, traced: Boolean): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      while (i == 0 || secondsSince(t0) * (i + 1) / i <= budgetS) {
        passes += w.pass(passes.size, traced)
        i += 1
      }
    }
    val recorder = if (trace) Some(new Recorder) else None
    recorder match {
      case None => loop(seconds, traced = false)
      case Some(r) =>
        loop(seconds / 2, traced = false)
        spark.sparkContext.addSparkListener(r)
        loop(seconds / 2, traced = true)
        org.apache.spark.perfbenchbridge.Drain(spark.sparkContext)
    }
    val endMs = System.currentTimeMillis()
    val rss = rssPeakMb()
    val layers = recorder.map(r => w.layers(r, passes.toSeq)).getOrElse(Map.empty)
    recorder.foreach(spark.sparkContext.removeSparkListener)
    w.finish()

    val json = new StringBuilder("{")
    json.append(s""""ready_ms":$readyMs,"end_ms":$endMs,"rss_peak_mb":$rss,""")
    json.append(s""""failures":$failures,"errors":${Json.str(sb.toString)},""")
    json.append(""""layers":""").append(Json.obj(layers)).append(",")
    json.append(""""passes":[""").append(passes.map { ps =>
      s"""{"traced":${ps.traced},"wall_s":${ps.wallS},"ops":[""" +
        ps.ops.map(o => s"""{"kind":${Json.str(o.kind)},"name":${Json.str(o.name)},""" +
          s""""wall_s":${o.wallS},"rows":${o.rows}}""").mkString(",") + "]}"
    }.mkString(",")).append("]}")
    Files.write(Paths.get(conf("out")), json.toString.getBytes(UTF_8))
    spark.stop()
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  trait Workload {
    def warmUp(): Unit
    def pass(index: Int, traced: Boolean): Pass
    def layers(r: Recorder, passes: Seq[Pass]): Map[String, Double]
    def finish(): Unit
  }

  /** Span ids are "<pass>/<op>/<phase>"; these pick them apart. */
  private def phaseOf(s: String) = s.split('/').lift(2).getOrElse("")
  private def opOf(s: String) = s.split('/').take(2).mkString("/")

  private def sparkLayers(r: Recorder, traced: Seq[Pass], cores: Int): Map[String, Double] = {
    val all = r.summary(_.nonEmpty)
    val n = traced.size.toDouble
    val wall = traced.map(_.wallS).sum
    Map(
      "spark.jobs" -> all.jobs / n,
      "spark.ms_per_job" -> (if (all.jobs == 0) 0.0 else wall * 1e3 / all.jobs),
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.task_busy_s" -> all.taskBusyS / n,
      "spark.task_deser_s" -> all.taskDeserS / n,
      "spark.sched_delay_s" -> all.schedDelayS / n,
      "spark.gc_s" -> all.gcS / n,
      "spark.core_util" -> all.taskBusyS / math.max(1e-9, wall * cores),
      "spark.shuffle_bytes" -> all.shuffleBytes / n,
      "spark.spill_bytes" -> all.spillBytes / n)
  }

  private def overheadLayers(passes: Seq[Pass]): Map[String, Double] = {
    val un = median(passes.filterNot(_.traced).map(_.wallS))
    val tr = median(passes.filter(_.traced).map(_.wallS))
    Map("trace.pass_s_untraced" -> un, "trace.pass_s_traced" -> tr,
      "trace.overhead_ratio" -> tr / un)
  }

  /** Writes the record of every traced span, the trace the per-layer
    * metrics were computed from. */
  private def writeSpans(path: String, spans: Seq[(String, Double, Double)]): Unit =
    Files.write(Paths.get(path), spans.map { case (id, s, e) =>
      s"""{"span":${Json.str(id)},"parent":${Json.str(opOf(id))},"start_s":$s,"end_s":$e}"""
    }.mkString("[", ",\n", "]").getBytes(UTF_8))

  // ------------------------------------------------------------------
  /** repl_pg / repl_jdbc: complete load, `deltas` incremental syncs, and
    * a key-range partitioned extract to parquet, each one CLI call. */
  final class Replication(spark: SparkSession, conf: Map[String, String]) extends Workload {
    private val cores = conf("cpus").toInt
    private val baseRows = conf("base_rows").toLong
    private val deltaRows = conf("delta_rows").toLong
    private val deltas = conf("deltas").split(",").toSeq
    private val finalRows = conf("final_rows").toLong
    private val isPg = conf("workload") == "repl_pg"
    private val key = if (isPg) "rid" else "RID"
    private val t0 = System.nanoTime()
    private val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]
    private val pgDeltas = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)] // xact, tup, wal, rows

    private val sinkFlags: Seq[String] =
      if (isPg) Seq(s"--sink-connect=${conf("pg_url")}", s"--sink-user=${conf("pg_user")}",
        s"--sink.connect.parameter.pgwire.socket=${conf("pg_socket")}")
      else Seq(s"--sink-connect=${conf("jdbc_url")}")
    private val sourceFlags: Seq[String] =
      if (isPg) Seq(s"--source-connect=${conf("pg_url")}", s"--source-user=${conf("pg_user")}",
        s"--source.connect.parameter.pgwire.socket=${conf("pg_socket")}")
      else Seq(s"--source-connect=${conf("jdbc_url")}")

    private def load(src: String, table: String) =
      Seq("--mode=complete", s"--source-connect=$src", s"--sink-table=$table",
        s"--jobs=$cores") ++ sinkFlags
    private def sync(src: String, table: String) =
      Seq("--mode=incremental", s"--source-connect=$src", s"--sink-table=$table",
        s"--jobs=$cores") ++ sinkFlags
    private def extract(table: String, out: String) =
      sourceFlags ++ Seq("--mode=complete", s"--source-table=$table",
        s"--source.connect.parameter.partition.key=$key",
        s"--sink-connect=$out", "--sink-file-format=parquet", s"--jobs=$cores")

    /** One CLI invocation; traced, it is split into its phases. */
    private def cli(args: Seq[String], sp: String): Unit =
      if (sp == null) Main.run(args.toArray)
      else {
        val sc = spark.sparkContext
        val a = System.nanoTime()
        val props = Main.parseArgs(args.toArray)
        val rc = Config.fromProperties(props - "verbose")
        val b = System.nanoTime()
        spark.conf.unset(Checkpoints.ConfKey) // what Main.run does without --checkpoint-dir
        val df = Recorder.tagged(sc, s"$sp/build") {
          ReplicaEngine.transform(spark, ReplicaEngine.read(spark, rc.source), rc.source)
        }
        val c = System.nanoTime()
        Recorder.tagged(sc, s"$sp/write") { ReplicaEngine.write(df, rc.sink) }
        val d = System.nanoTime()
        def at(t: Long) = (t - t0) / 1e9
        spans += ((s"$sp/parse", at(a), at(b)))
        spans += ((s"$sp/build", at(b), at(c)))
        spans += ((s"$sp/write", at(c), at(d)))
      }

    /** (transactions, tuples written, WAL bytes) of the private server. */
    private def pgCounters(): (Long, Long, Long) = {
      val sql = "SELECT sum(xact_commit + xact_rollback)::bigint, " +
        "sum(tup_inserted + tup_updated + tup_deleted)::bigint, " +
        "(pg_current_wal_lsn() - '0/0'::pg_lsn)::bigint FROM pg_stat_database"
      val cmd = Seq(conf("psql"), "-h", conf("pg_socket"), "-U", conf("pg_user"),
        "-d", "postgres", "-X", "-A", "-t", "-c", sql)
      val full = if (conf("pg_runuser") == "1") Seq("runuser", "-u", conf("pg_user"), "--") ++ cmd else cmd
      val pr = new ProcessBuilder(full: _*).directory(new java.io.File(conf("pg_base")))
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      val out = new String(pr.getInputStream.readAllBytes(), UTF_8).trim
      require(pr.waitFor() == 0, s"psql failed: $out")
      val Array(x, t, w) = out.split("\\|").map(_.trim.toLong)
      (x, t, w)
    }

    private def timed(kind: String, name: String, rows: Long, args: Seq[String],
        sp: String, countPg: Boolean): Op = {
      // backends flush their statistics when they exit; give the
      // connections of the previous operation time to do so
      val before = if (countPg) { Thread.sleep(100); Some(pgCounters()) } else None
      val a = System.nanoTime()
      try cli(args, sp)
      catch { case e: Throwable => fail(s"$kind $name: $e") }
      val op = Op(kind, name, secondsSince(a), rows)
      before.foreach { case (x0, t0c, w0) =>
        Thread.sleep(100)
        val (x1, t1c, w1) = pgCounters()
        // the counter query's own transaction lands in the next reading
        pgDeltas += ((x1 - x0 - 1, t1c - t0c, w1 - w0, rows))
      }
      op
    }

    /** One untimed pass on the same table: the first full-size load runs
      * up to 1.5x slower than the next. Every pass starts with a complete
      * load, so the timed passes start from the same state. */
    def warmUp(): Unit = {
      if (!isPg) {
        val c = java.sql.DriverManager.getConnection(conf("jdbc_url"))
        try c.createStatement().execute(conf("ddl")) finally c.close()
      }
      val errors = failures
      pass(-1, traced = false)
      require(failures == errors, s"warm-up pass failed:\n$sb")
    }

    def pass(index: Int, traced: Boolean): Pass = {
      val a = System.nanoTime()
      def sp(i: Int) = if (traced) s"$index/$i" else null
      val countPg = traced && isPg
      val ops = mutable.ArrayBuffer.empty[Op]
      ops += timed("load", "base", baseRows, load(conf("base"), "li"), sp(0), countPg)
      deltas.zipWithIndex.foreach { case (d, i) =>
        ops += timed("sync", s"delta_$i", deltaRows, sync(d, "li"), sp(i + 1), countPg)
      }
      ops += timed("extract", "li", finalRows, extract("li", conf("extract_dir")),
        sp(deltas.size + 1), countPg = false)
      Pass(traced, secondsSince(a), ops.toSeq)
    }

    def layers(r: Recorder, passes: Seq[Pass]): Map[String, Double] = {
      val traced = passes.filter(_.traced)
      val tracedIdx = passes.indices.filter(passes(_).traced)
      def ops(kind: String): Seq[String] = tracedIdx.flatMap(pi =>
        passes(pi).ops.zipWithIndex.collect { case (o, oi) if o.kind == kind => s"$pi/$oi" })
      def phase(op: String, ph: String) = r.summary(s => opOf(s) == op && phaseOf(s) == ph)
      def wall(op: String, ph: String) =
        spans.filter(_._1 == s"$op/$ph").map(s => s._3 - s._2).sum
      val allOps = tracedIdx.flatMap(pi => passes(pi).ops.indices.map(oi => s"$pi/$oi"))
      val loads = ops("load"); val syncs = ops("sync"); val extracts = ops("extract")
      val pg = if (pgDeltas.isEmpty) Map.empty[String, Double] else {
        val (x, t, w, n) = pgDeltas.foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, d), (e, f, g, h)) =>
          (a + e, b + f, c + g, d + h) }
        Map("pg.xact_per_op" -> x.toDouble / pgDeltas.size,
          "pg.tup_written_per_row" -> t.toDouble / n,
          "pg.wal_bytes_per_row" -> w.toDouble / n)
      }
      def opWall(kind: String) = traced.flatMap(_.ops.filter(_.kind == kind))
      writeSpans(conf("trace_out"), spans.toSeq)
      pg ++ sparkLayers(r, traced, cores) ++ overheadLayers(passes) ++ Map(
        "cli.parse_ms" -> median(allOps.map(o => wall(o, "parse") * 1e3)),
        "core.build_s" -> median(allOps.map(o => wall(o, "build"))),
        "core.jobs_per_op" -> allOps.map(o => r.summary(opOf(_) == o).jobs.toDouble).sum /
          allOps.size,
        "sources.write.job_s" -> median(loads.map(phase(_, "write").jobUnionS)),
        "sources.write.task_busy_s" -> median(loads.map(phase(_, "write").taskBusyS)),
        "sources.write.task_skew" -> median(loads.map(phase(_, "write").taskSkew)),
        "sources.write.tasks" -> median(loads.map(phase(_, "write").tasks.toDouble)),
        "sources.write.control_s" -> median(syncs.map(o =>
          wall(o, "write") - phase(o, "write").jobUnionS)),
        // an extract reads lazily: its source scan runs in the jobs of
        // its write phase
        "sources.read.job_s" -> median(extracts.map(phase(_, "write").jobUnionS)),
        "sources.read.tasks" -> median(extracts.map(phase(_, "write").tasks.toDouble)),
        "sources.read.task_skew" -> median(extracts.map(phase(_, "write").taskSkew)),
        "repl.load_rows_per_s" -> median(opWall("load").map(o => o.rows / o.wallS)),
        "repl.sync_s" -> median(opWall("sync").map(_.wallS)),
        "repl.extract_rows_per_s" -> median(opWall("extract").map(o => o.rows / o.wallS)))
    }

    def finish(): Unit =
      // the Derby sink lives inside this JVM: dump it for the check
      // over plain JDBC, independent of the program's read path
      if (!isPg) Derby.dumpCsv(conf("jdbc_url"), "LI", conf("sink_dump"))
  }

  // ------------------------------------------------------------------
  /** sql_tpch / iter_ops: passes over a query set in a seeded order.
    * Every result is fingerprinted; the warm-up pass's results are
    * dumped for the DuckDB oracle check and every timed pass must
    * reproduce their fingerprints. */
  final class Queries(spark: SparkSession, conf: Map[String, String], seed: Long)
      extends Workload {
    private val cores = conf("cpus").toInt
    private val dir = conf("corpus")
    private val names: Seq[String] = conf("workload") match {
      case "sql_tpch" => Queries.Tpch
      case _ => Queries.IterOps
    }
    private val reference = mutable.Map.empty[String, (Int, Long)]
    private val firstRows = mutable.Map.empty[String, (Array[Row], StructType)]
    private val t0 = System.nanoTime()
    private val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]

    private def fingerprint(rows: Array[Row]): (Int, Long) =
      (scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toString)), rows.length.toLong)

    private def runQuery(name: String, sp: String): (Array[Row], StructType) = {
      val fn = SparkEntry.queries(name)
      if (sp == null) { val df = fn(spark, dir); (df.collect(), df.schema) }
      else {
        val sc = spark.sparkContext
        def at(t: Long) = (t - t0) / 1e9
        val a = System.nanoTime()
        val df = Recorder.tagged(sc, s"$sp/build")(fn(spark, dir))
        val b = System.nanoTime()
        Recorder.tagged(sc, s"$sp/plan")(df.queryExecution.executedPlan)
        val c = System.nanoTime()
        val rows = Recorder.tagged(sc, s"$sp/exec")(df.collect())
        val d = System.nanoTime()
        spans += ((s"$sp/build", at(a), at(b)))
        spans += ((s"$sp/plan", at(b), at(c)))
        spans += ((s"$sp/exec", at(c), at(d)))
        (rows, df.schema)
      }
    }

    private def order(index: Int): Seq[String] = new scala.util.Random(seed + index).shuffle(names)

    /** Two untimed passes: a cold one, whose results are kept for the
      * check, and a warm one; the pass after a single cold pass still runs
      * up to 1.4x slower than the ones after it. */
    def warmUp(): Unit = {
      order(-1).foreach { n =>
        try {
          val (rows, schema) = runQuery(n, null)
          reference(n) = fingerprint(rows)
          firstRows(n) = (rows, schema)
        } catch { case e: Throwable => fail(s"warm-up $n: $e") }
      }
      pass(-2, traced = false)
    }

    def pass(index: Int, traced: Boolean): Pass = {
      val a = System.nanoTime()
      val ops = order(index).zipWithIndex.map { case (n, i) =>
        val b = System.nanoTime()
        try {
          val (rows, _) = runQuery(n, if (traced) s"$index/$i" else null)
          val wall = secondsSince(b)
          if (!reference.get(n).contains(fingerprint(rows)))
            fail(s"pass $index: $n result differs from the checked result")
          Op("query", n, wall, rows.length.toLong)
        } catch { case e: Throwable => fail(s"pass $index $n: $e"); Op("query", n, secondsSince(b), 0) }
      }
      Pass(traced, secondsSince(a), ops)
    }

    def layers(r: Recorder, passes: Seq[Pass]): Map[String, Double] = {
      val tracedIdx = passes.indices.filter(passes(_).traced)
      val traced = tracedIdx.map(passes)
      val n = traced.size.toDouble
      def phaseWall(ph: String) = spans.filter(s => phaseOf(s._1) == ph).map(s => s._3 - s._2).sum / n
      val exec = spans.filter(s => phaseOf(s._1) == "exec")
      val residue = exec.map(s => (s._3 - s._2) -
        r.summary(x => x == s._1).jobUnionS).sum / n
      val perQuery = Queries.IterOps.flatMap { q =>
        val ids = tracedIdx.flatMap(pi => passes(pi).ops.zipWithIndex.collect {
          case (o, oi) if o.name == q => s"$pi/$oi" })
        if (ids.isEmpty) Nil
        else Seq(s"iter.$q.jobs" -> ids.map(id => r.summary(opOf(_) == id).jobs.toDouble).sum / ids.size,
          s"iter.$q.wall_s" -> median(traced.flatMap(_.ops.filter(_.name == q).map(_.wallS))))
      }
      writeSpans(conf("trace_out"), spans.toSeq)
      sparkLayers(r, traced, cores) ++ overheadLayers(passes) ++ perQuery ++ Map(
        "entry.build_s" -> phaseWall("build"),
        "spark.plan_s" -> phaseWall("plan"),
        "spark.exec_s" -> phaseWall("exec"),
        "spark.driver_residue_s" -> residue)
    }

    def finish(): Unit = {
      // results as parquet for the oracle check, timestamps as naive
      // micros (what DuckDB reads back unchanged); oracle SQL beside them
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val out = conf("results_dir")
      firstRows.foreach { case (n, (rows, schema)) =>
        val df = spark.createDataFrame(rows.toSeq.asJava, schema)
        val ntz = df.select(df.schema.fields.toIndexedSeq.map { f =>
          if (f.dataType == TimestampType)
            df.col(f.name).cast("timestamp_ntz").as(f.name)
          else df.col(f.name)
        }: _*)
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      }
      Files.write(Paths.get(s"$out/oracle_sql.json"), Json.obj(names.map(n =>
        n -> SparkEntry.oracleSql(n)).toMap).getBytes(UTF_8))
    }
  }

  object Queries {
    /** TPC-H q1-q6: scan-aggregates, a correlated subquery, a semi-join
      * and three- to six-way joins. All 22 take 28 s cold plus 20 s warm
      * at sf0.1, more than one run can afford. */
    val Tpch: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      n.matches("q[1-6]_.*")
    }
    /** The driver-paced loop with the most jobs per query. */
    val IterOps: Seq[String] = Seq("mmr1_diversified_topk")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj[V](m: Map[String, V]): String = m.toSeq.sortBy(_._1).map { case (k, v) =>
    str(k) + ":" + (v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case s: String => str(s)
      case o => o.toString
    })
  }.mkString("{", ",", "}")
}

/** Reads the Derby sink over plain JDBC, for the correctness check. */
object Derby {
  def dumpCsv(url: String, table: String, path: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    val w = Files.newBufferedWriter(Paths.get(path), UTF_8)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      val n = rs.getMetaData.getColumnCount
      while (rs.next()) {
        w.write((1 to n).map { i =>
          val v = rs.getObject(i)
          if (v == null) ""
          else v match {
            case s: String => "\"" + s.replace("\"", "\"\"") + "\""
            case o => o.toString
          }
        }.mkString(","))
        w.write('\n')
      }
    } finally { w.close(); c.close() }
  }
}
