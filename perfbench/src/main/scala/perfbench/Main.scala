package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Acid, GraftSession, Queries, Tables, Warehouse}

/** Benchmark harness. Runs one workload's op list (generated from the
  * workload seed by run.py) single-client and closed-loop: every pass in
  * the list, so every run of a workload does the same work. Each op's
  * result is fingerprinted (row count plus bit_xor of xxhash64 over every
  * column, in column-name order) for run.py to check. With tracing on,
  * spans and Spark listener counters are recorded as well.
  *
  * Usage: Main --workload W --plan FILE --data DIR --work DIR --out DIR
  *             --trace 0|1
  */
object Main {
  private val json = new ObjectMapper()
  /** A small scan + sort + limit query run once in set-up. */
  private val WarmUp = "q15_orderby_limit"

  final case class OpResult(id: Long, pass: Int, kind: String, name: String,
      startUs: Long, endUs: Long, ok: Boolean, rows: Long, hash: Long,
      schema: Seq[(String, String)], error: String, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("oracles").foreach { f =>
      // the oracle SQL of every query that has one, for deriving the
      // expected fingerprints with DuckDB
      val m = Queries.all.collect { case q if q.oracle.isDefined => q.name -> q.oracle.get }
      Files.writeString(Paths.get(f), toJson(m.toMap))
      return
    }
    val workload = opt("workload")
    val dataDir = opt("data")
    val workDir = new File(opt("work")).getAbsoluteFile
    val outDir = new File(opt("out")); outDir.mkdirs()
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val passes: Seq[Seq[JsonNode]] = Files.readAllLines(Paths.get(opt("plan"))).asScala
      .filter(_.trim.nonEmpty).map(l => json.readTree(l)).toSeq
      .groupBy(_.get("pass").asInt).toSeq.sortBy(_._1).map(_._2)

    // ---- set-up, JVM start to the first timed op: session, table
    // registration, warm-up queries and, for acid_txn, the table load
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val regT0 = Clock.us()
    Tables.register(spark, dataDir)
    val registerUs = Clock.us() - regT0
    fingerprint(GraftSession.sql(spark, Queries.byName(WarmUp).oracle.get))
    val acidPath = new File(workDir, "acid_orders").getAbsolutePath
    // Queries outside every pass that load the join, aggregate and window
    // code paths, so the first timed op does not pay their start-up.
    Seq("q04_join_left_outer", "q24_window_running").foreach { n =>
      fingerprint(GraftSession.sql(spark, Queries.byName(n).oracle.get))
    }
    // Every query of the first pass once, untimed: a query's first run in
    // a JVM costs up to twice a warm one (JIT, generated code), and that
    // start-up cost would land on whichever ops the seed puts first.
    val warm = new Work(spark, dataDir, acidPath, None)
    passes.head.filter(op => Set("sql", "run")(op.get("kind").asText)).foreach { op =>
      try warm.run(op)
      catch { case e: Throwable => System.err.println(s"warm-up op failed: ${e.getMessage}") }
    }
    if (workload == "acid_txn") acidPrepare(spark, dataDir, acidPath)

    val tracer = if (traced) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val work = new Work(spark, dataDir, acidPath, tracer)

    // ---- timed window: every pass of the plan
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val results = mutable.ArrayBuffer[OpResult]()
    val windowT0 = Clock.us()
    val setupUs = windowT0 - jvmStartUs
    for ((pass, p) <- passes.zipWithIndex) {
      pass.foreach { op =>
        val id = op.get("id").asLong
        val kind = op.get("kind").asText
        val name = Option(op.get("name")).map(_.asText).getOrElse(kind)
        val g0 = gcMs()
        val t0 = Clock.us()
        val r = try {
          val fp = tracer match {
            case Some(t) => t.op(id, "op")(work.run(op))
            case None => work.run(op)
          }
          Right(fp)
        } catch { case e: Throwable => Left(e) }
        val t1 = Clock.us()
        val g1 = gcMs()
        results += (r match {
          case Right(Some(Fingerprint(n, h, s))) =>
            OpResult(id, p, kind, name, t0, t1, true, n, h, s, null, g1 - g0)
          case Right(None) =>
            OpResult(id, p, kind, name, t0, t1, true, -1, 0, Nil, null, g1 - g0)
          case Left(e) =>
            OpResult(id, p, kind, name, t0, t1, false, -1, 0, Nil,
              String.valueOf(e.getMessage).take(500), g1 - g0)
        })
      }
    }
    val windowUs = Clock.us() - windowT0
    // Heap still live once the ops are done: two full collections with a
    // pause between, so Spark's cleaner can drop the cached blocks and
    // broadcasts the first one found unreachable.
    System.gc()
    Thread.sleep(200)
    System.gc()
    val retainedHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    // ---- after the window (untimed): final-state checks and counters
    val extra = mutable.LinkedHashMap[String, Any]()
    if (workload == "acid_txn") {
      val snap = Acid.snapshot(spark, acidPath)
      val fp = fingerprint(snap)
      extra("final_rows") = fp.rows
      extra("final_hash") = fp.hash
      extra("final_schema") = fp.schema
      if (traced) extra ++= work.acidFinal(snap)
    }
    if (traced) {
      val t = tracer.get
      t.drain()
      extra("per_op") = t.countersByOp()
      extra("persisted_after") = spark.sparkContext.getPersistentRDDs.size
      extra("cached_peak_bytes") = t.cachedPeakBytes
      extra ++= work.acidCounters
      writeSpans(new File(outDir, "spans.jsonl"), t.allSpans())
    }
    extra("retained_heap") = retainedHeap
    writeResult(new File(outDir, "result.json"), workload, cores, setupUs,
      registerUs, windowUs, results.toSeq, extra)
    spark.stop()
  }

  final case class Fingerprint(rows: Long, hash: Long, schema: Seq[(String, String)])

  /** Row count and order-independent content hash over every column,
    * columns in name order: the same bit_xor(xxhash64(...)) the
    * program's own bench uses for its corpus fingerprint. Integral
    * columns are hashed as bigint and float/decimal ones as double, so a
    * result compares by value, not by the width of its type. */
  def fingerprint(df: DataFrame): Fingerprint = {
    import org.apache.spark.sql.types._
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val canon = fields.map { case (f, i) => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => (s"cast(c$i as bigint)", "bigint")
      case FloatType | DoubleType | _: DecimalType => (s"cast(c$i as double)", "double")
      case t => (s"c$i", t.simpleString)
    } }
    val hashExpr =
      if (fields.isEmpty) "cast(0 as bigint)"
      else s"bit_xor(xxhash64(${canon.map(_._1).mkString(", ")}))"
    val row = renamed.selectExpr("count(1)", hashExpr).collect().head
    Fingerprint(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1),
      fields.zip(canon).map { case ((f, _), (_, t)) => f.name -> t }.toSeq)
  }

  /** Loads the orders columns into an ACID table: a copy of the orders
    * parquet file converted in place (a pre-ACID original), folded into a
    * base by a major compaction after a one-row no-op update, so the
    * timed window starts from a base and no deltas. */
  def acidPrepare(spark: SparkSession, dataDir: String, path: String): Unit = {
    deleteRecursively(new File(path))
    Acid.create(path)
    Files.copy(Paths.get(dataDir, "orders.parquet"), Paths.get(path, "orders.parquet"))
    Acid.updateTxn(spark, path, Map("o_totalprice" -> "o_totalprice"), "o_orderkey = 0")
    Acid.compactMajor(spark, path)
    Acid.clean(path)
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  // ---- output ----
  private def q(s: String): String = json.writeValueAsString(s)
  private def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case c: Counters =>
      val fs = classOf[Counters].getDeclaredFields.filterNot(_.isSynthetic)
      fs.map { f => f.setAccessible(true); q(f.getName) + ":" + f.get(c) }.mkString("{", ",", "}")
    case (a, b) => toJson(Seq(a, b))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => q(other.toString)
  }

  private def writeResult(f: File, workload: String, cores: Int, setupUs: Long,
      registerUs: Long, windowUs: Long,
      ops: Seq[OpResult], extra: collection.Map[String, Any]): Unit = {
    val opsJson = ops.map { o =>
      toJson(mutable.LinkedHashMap[String, Any]("id" -> o.id, "pass" -> o.pass,
        "kind" -> o.kind, "name" -> o.name, "start_us" -> o.startUs,
        "end_us" -> o.endUs, "ok" -> o.ok, "rows" -> o.rows,
        "hash" -> o.hash, "schema" -> o.schema, "error" -> o.error,
        "gc_ms" -> o.gcMs))
    }
    val head = mutable.LinkedHashMap[String, Any]("workload" -> workload,
      "cores" -> cores, "setup_us" -> setupUs, "register_us" -> registerUs,
      "window_us" -> windowUs,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.version"))
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.print(toJson(head ++ extra).dropRight(1))
      w.print(",\"ops\":" + opsJson.mkString("[", ",\n", "]") + "}")
    } finally w.close()
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startUs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${q(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}""")
    } finally w.close()
  }
}

/** Executes one op of any workload, wrapping each call into a program
  * layer in a span when traced. */
final class Work(spark: SparkSession, dataDir: String, acidPath: String,
    tracer: Option[Tracer]) {
  import Main.{Fingerprint, fingerprint}

  private def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  private val acidCalls = mutable.Map[String, mutable.ArrayBuffer[Long]]()
  private var compactions = 0L
  private var rewritten = 0L
  private var deltasAtRead = mutable.ArrayBuffer[Int]()
  private var txnBytes = 0L
  private var eventRows = 0L

  private def acidTimed[T](kind: String)(body: => T): T = {
    val t0 = Clock.us()
    try span(s"acid.$kind")(body)
    finally acidCalls.getOrElseUpdate(kind, mutable.ArrayBuffer()) += Clock.us() - t0
  }

  private def sets(op: JsonNode): Map[String, String] =
    op.get("sets").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  def run(op: JsonNode): Option[Fingerprint] = op.get("kind").asText match {
    case "sql" =>
      val text = Queries.byName(op.get("name").asText).oracle.get
      val df = span("frontdoor.sql")(GraftSession.sql(spark, text))
      Some(span("fingerprint")(fingerprint(df)))
    case "run" =>
      val q = Queries.byName(op.get("name").asText)
      val df = span("operators.build")(q.run(spark, dataDir))
      Some(span("operators.exec")(fingerprint(df)))
    case "read" =>
      val deltas = new File(acidPath).list().count(_.startsWith("delta_"))
      deltasAtRead += deltas
      val df = acidTimed("snapshot")(Acid.snapshot(spark, acidPath))
      df.createOrReplaceTempView("acid_t")
      Some(span("fingerprint")(fingerprint(spark.sql(op.get("sql").asText))))
    case "compact" =>
      val compacting = existing()
      val action = acidTimed("compact")(Acid.maybeCompact(spark, acidPath, minDeltas = 4))
      if (action != "none") {
        compactions += 1
        rewritten += existing().filterNot(compacting.contains)
          .map(f => Main.dirBytes(new File(acidPath, f))).sum
      }
      acidTimed("clean")(Acid.clean(acidPath))
      None
    case kind =>
      val before = existing()
      acidTimed(kind)(kind match {
        case "insert" =>
          Acid.insertTxn(spark, acidPath, typed(spark.sql(op.get("source").asText)))
        case "update" =>
          Acid.updateTxn(spark, acidPath, sets(op), op.get("where").asText)
        case "delete" =>
          Acid.deleteTxn(spark, acidPath, op.get("where").asText)
        case "merge" =>
          Acid.mergeTxn(spark, acidPath, typed(spark.sql(op.get("source").asText)),
            "s", "t", "t.o_orderkey = s.o_orderkey",
            Seq(Warehouse.MatchedUpdate(None, sets(op))),
            Some(Warehouse.NotMatchedInsert(None, orderCols.map("s." + _))))
      })
      if (tracer.isDefined) {
        val added = existing().filterNot(before.contains)
        txnBytes += added.map(f => Main.dirBytes(new File(acidPath, f))).sum
        eventRows += added.map(f => parquetRows(new File(acidPath, f))).sum
      }
      None
  }

  private lazy val orderCols: Seq[String] = Acid.snapshot(spark, acidPath).columns.toSeq

  /** Casts a VALUES source to the table's column types. */
  private def typed(df: DataFrame): DataFrame = {
    val schema = Acid.snapshot(spark, acidPath).schema
    df.select(schema.fields.toSeq.map(f => df.col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  private def existing(): Set[String] =
    Option(new File(acidPath).list()).map(_.toSet).getOrElse(Set.empty)
      .filter(n => n.startsWith("delta_") || n.startsWith("base_"))

  private def parquetRows(dir: File): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  private def median(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** Per-call ACID counters of the traced run. */
  def acidCounters: Map[String, Any] = {
    if (acidCalls.isEmpty) Map.empty
    else Map(
      "acid_median_us" -> acidCalls.map { case (k, v) => k -> median(v.toSeq) }.toMap,
      "acid_total_us" -> acidCalls.map { case (k, v) => k -> v.sum }.toMap,
      "acid_calls" -> acidCalls.map { case (k, v) => k -> v.size }.toMap,
      "compactions" -> compactions, "bytes_rewritten" -> rewritten,
      "deltas_at_read" -> (if (deltasAtRead.isEmpty) 0.0
        else deltasAtRead.sum.toDouble / deltasAtRead.size),
      "txn_bytes" -> txnBytes, "event_rows" -> eventRows)
  }

  /** Space used by the table against its live rows stored as one plain
    * parquet file. */
  def acidFinal(snap: DataFrame): Map[String, Any] = {
    val plain = new File(acidPath + "_plain")
    Main.deleteRecursively(plain)
    snap.coalesce(1).write.parquet(plain.toString)
    val out = Map[String, Any]("table_bytes" -> Main.dirBytes(new File(acidPath)),
      "plain_bytes" -> Main.dirBytes(plain), "plain_rows" -> parquetRows(plain))
    Main.deleteRecursively(plain)
    out
  }
}
