package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.etl.{Delta, Loaders, Prep}
import graft.functions.Graphs
import graft.model.Meta
import graft.mql.{Compiler, DateRange, Parser}
import graft.store.{Container, IncrementalStore}
import graft.temporal.TemporalOps._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

final case class Config(
    workload: String,
    units: Int,
    warmUnits: Int,
    trace: Boolean,
    inputs: File,
    work: File,
    out: File,
    cores: Int,
    setupReps: Int,
    inject: String)

/** Runs one workload against the program's public API, single-threaded in
  * a closed loop, and writes every op it ran to a JSON record that
  * `run.py` turns into metrics.
  *
  * Set-up runs `setupReps` times, each in a fresh SparkSession. The first
  * session, after its cold set-up, runs `warmUnits` untimed units that
  * warm the JVM and then the measured units; the later set-ups follow on
  * a warm JVM. A run measures a fixed number of units, so every run does
  * the same work whatever the program's speed.
  * Each op is timed from call to result collected on the driver; its
  * output is checked against the generator's expectations after the clock
  * stops. A failed op records no time. A host-speed probe runs right
  * before and after each op and each set-up, outside the timing. With
  * tracing on, one unit after the measured ones and the last set-up are
  * traced.
  */
final class Bench(cfg: Config) {
  private val exp: JsonNode = new ObjectMapper().readTree(new File(cfg.inputs, "expected.json"))
  private val tracer = new Tracer
  private val ops = ArrayBuffer[Map[String, Any]]()
  private val units = ArrayBuffer[Map[String, Any]]()
  private val setupS = ArrayBuffer[Double]()
  private val setupProbeNs = ArrayBuffer[Seq[Long]]()
  private val loadLimit = 1.5 * cfg.cores
  private var spark: SparkSession = _
  private var phase = "setup"
  private var rep = 0
  private var unitNo = -1
  private var leakedDirs = 0
  /** Time spent in the benchmark's own bookkeeping around ops: output
    * checks, file listings. Kept out of `setup_s`.
    */
  private var bookkeepingNs = 0L
  private var pinsLeaked = 0

  /** Columns hashed into `_hash` when the benchmark wraps rows itself:
    * every data column but the reserved `id`, as the loaders do.
    */
  private val HashCols = Seq("name", "status", "owner", "qty", "region")

  // ------------------------------------------------------------ harness

  private def newSession(): SparkSession = SparkSession.builder()
    .master(s"local[${cfg.cores}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cfg.cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", new File(cfg.work, "spark-warehouse").getPath)
    .config("spark.local.dir", new File(cfg.work, "spark-local").getPath)
    .getOrCreate()

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble

  private val probeBuf = new Array[Int](1 << 14)
  /** Nanoseconds of a fixed CPU-bound loop, best of five: how fast the
    * host runs right now. On a shared host this moves by a third within
    * minutes, and op times move with it; `run.py` scales op times by it.
    */
  private def hostProbeNs(): Long = {
    var best = Long.MaxValue
    var k = 0
    while (k < 5) {
      val t0 = System.nanoTime()
      var x = 0x9E3779B9
      var i = 0
      while (i < 100000) {
        x ^= x << 13; x ^= x >>> 17; x ^= x << 5
        probeBuf(x & (probeBuf.length - 1)) += x
        i += 1
      }
      best = math.min(best, System.nanoTime() - t0)
      k += 1
    }
    best
  }

  private def files(root: File): Map[String, (Long, Long)] =
    if (!root.exists) Map.empty
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile).filter(_.isFile)
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap

  private val LeakNames = Seq(".staging-", ".old-", "history_compacting", "history_retired")

  /** Staging, retired and compaction directories left behind under `root`,
    * plus snapshot generations beyond the live one.
    */
  private def leaked(root: File): Int =
    if (!root.exists) 0
    else {
      val dirs = Files.walk(root.toPath).iterator().asScala.map(_.toFile).filter(_.isDirectory).toSeq
      dirs.count(d => LeakNames.exists(d.getName.contains)) +
        dirs.groupBy(_.getParentFile).values
          .map(_.count(_.getName.matches("current_v[0-9]+"))).map(n => math.max(0, n - 1)).sum
    }

  private def delete(f: File): Unit =
    if (f.exists) Files.walk(f.toPath).iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))

  private def expect(op: String, what: String, want: Long, got: Long): Option[String] = {
    val w = if (cfg.inject == s"wrong:$op") want + 1 else want
    if (w == got) None else Some(s"$what: expected $w, got $got")
  }

  private def expectSum(op: String, want: JsonNode, got: Check.Sum): Option[String] =
    expect(op, "rows", want.get("n").asLong, got.n)
      .orElse(expect(op, "checksum", want.get("sum").asLong, got.sum))

  private def firstError(checks: Option[String]*): Option[String] = checks.flatten.headOption

  /** Rows of an op's input frame: counted by an extra job in traced runs,
    * where the layer counters need it; otherwise the model's count, which
    * the store-side checks then hold the program to.
    */
  private def counted(df: DataFrame, modelRows: Long): Long =
    if (tracer.on) df.count() else modelRows

  /** One timed op. `work` is timed inside an `op:<name>` span; `check`
    * runs after the clock stops and returns the first mismatch. Files
    * written under `watch` are counted outside the timing. Returns the
    * work's result only when it ran and checked clean.
    */
  private def op[T](kind: String, name: String, watch: Option[File] = None,
      extra: Map[String, Any] = Map.empty)(work: => T)(check: T => Option[String]): Option[T] = {
    val entered = System.nanoTime()
    val before = watch.map(files)
    val load0 = loadavg()
    val p0 = hostProbeNs()
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.span(s"op:$name") {
        if (cfg.inject == s"throw:$name") throw new IllegalStateException(s"injected failure in $name")
        work
      })
      catch { case NonFatal(e) => Left(e.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    val p1 = hostProbeNs()
    val load1 = loadavg()
    val writes = for (b <- before; w <- watch) yield {
      val changed = files(w).filter { case (p, st) => !b.get(p).contains(st) }
      (changed.size.toLong, changed.values.map(_._1).sum)
    }
    writes.foreach { case (n, bytes) =>
      tracer.add("store.files_written", n.toDouble)
      tracer.add("store.bytes_written", bytes.toDouble)
    }
    val err = res match {
      case Left(e) => Some(e)
      case Right(v) => try check(v) catch { case NonFatal(e) => Some(s"check threw: $e") }
    }
    watch.foreach(w => leakedDirs = math.max(leakedDirs, leaked(w)))
    err.foreach(e => System.err.println(s"perfbench: op $name failed: $e"))
    ops += Map("phase" -> phase, "rep" -> rep, "unit" -> unitNo, "kind" -> kind, "name" -> name,
      "wall_s" -> (if (err.isEmpty) wall else null), "ok" -> err.isEmpty, "error" -> err.orNull,
      "load_before" -> load0, "load_after" -> load1, "load_flag" -> (load0 > loadLimit),
      "probe_ns" -> Seq(p0, p1),
      "files_written" -> writes.map(_._1), "bytes_written" -> writes.map(_._2)) ++ extra
    bookkeepingNs += System.nanoTime() - entered - (wall * 1e9).toLong
    if (err.isEmpty) res.toOption else None
  }

  /** Parser and compiler timing on a query string, traced runs only; the
    * probe spans sit outside every op.
    */
  private def probeMql(query: String, date: String, schema: StructType): Unit =
    if (tracer.on) DateRange.fullQuery(Option(query), Option(date)).foreach { q =>
      val ast = tracer.span("mql.parse")(Parser.parse(q))
      tracer.span("mql.compile")(Compiler.compile(ast, schema))
    }

  /** Checks a cycle's version counts against the model and credits them
    * to the store counters. `opened` and `closed` select the versions the
    * cycle opened and closed.
    */
  private def checkCycle(name: String, e: JsonNode, df: DataFrame, incoming: Long,
      opened: Column, closed: Column): Option[String] = {
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    val r = df.agg(count(lit(1)), n(opened), n(closed), n(col(Meta.END).isNull)).head()
    val (total, op, cl, current) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    tracer.add("store.rows_inserted", (op - cl).toDouble)
    tracer.add("store.rows_rotated", cl.toDouble)
    tracer.add("store.rows_unchanged", (incoming - op).toDouble)
    def j(k: String) = e.get(k).asLong
    firstError(
      expect(name, "versions", j("total_rows"), total),
      expect(name, "inserted", j("inserted"), op - cl),
      expect(name, "rotated", j("rotated"), cl),
      expect(name, "unchanged", j("unchanged"), incoming - op),
      Option(e.get("current_rows")).flatMap(c => expect(name, "current", c.asLong, current)))
  }

  private def checkFinal(name: String, want: JsonNode, df: DataFrame): Option[String] =
    expectSum(name, want, Check.storeKeys(df))

  private def liveStore(root: File): Unit = {
    val fs = files(root)
    tracer.set("store.files_live", fs.size.toDouble)
    tracer.set("store.bytes_live", fs.values.map(_._1).sum.toDouble)
  }

  /** Store size at the end of a unit of ingest, for `store_bytes_per_row`. */
  private def recordUnit(root: File, rows: Long): Unit =
    units += Map("phase" -> phase, "rep" -> rep, "unit" -> unitNo,
      "store_bytes" -> files(root).values.map(_._1).sum, "rows" -> rows)

  private def cycles: Seq[JsonNode] = exp.get("cycles").elements().asScala.toSeq
  private def input(e: JsonNode): String = new File(cfg.inputs, e.get("file").asText).getPath

  private def readQuery(i: Int): String = {
    val q = exp.get("read_queries").get(i)
    val sts = q.get("statuses").elements().asScala.map(s => s"'${s.asText}'").mkString(", ")
    s"status in [$sts] and qty >= ${q.get("min_qty").asLong}"
  }

  // ------------------------------------------------------------ workloads

  private trait Workload {
    /** One set-up repetition, run after its SparkSession starts. */
    def setup(dir: File): Unit
    /** One unit of work: the same mix of ops in every run. */
    def unit(dir: File): Unit
  }

  /** Ingest workloads: set-up loads the first cycle into a scratch store;
    * a unit is one round of every generated cycle into a fresh store.
    */
  private abstract class CycleRounds extends Workload {
    protected def cycle(c: Int, root: File): Boolean

    def setup(dir: File): Unit = cycle(0, new File(dir, "first"))
    def unit(dir: File): Unit = {
      if ((0 until cycles.size).forall(cycle(_, dir))) {
        recordUnit(dir, cycles.last.get("total_rows").asLong)
        liveStore(dir)
      }
      delete(dir)
    }
  }

  /** Cube autosnap ingest: full snapshot CSV → Loaders → Prep → upsert →
    * save, then two MQL reads of the saved store: a current-snapshot find
    * and a point lookup of every version of one entity.
    */
  private object SnapshotIngest extends CycleRounds {
    private val query = readQuery(0)

    protected def cycle(c: Int, root: File): Boolean = {
      val e = cycles(c)
      val ts = e.get("ts").asDouble
      val store = new File(root, "store").getPath
      val cycleOk = op("cycle", "snapshot_cycle", Some(root),
        Map("rows_in" -> e.get("rows_in").asLong, "input_bytes" -> e.get("bytes").asLong)) {
        val loaded = tracer.span("etl.load")(
          Loaders.loadFile(spark, input(e), Loaders.OidColumn("id"), ts))
        val prepped = tracer.span("etl.prep")(Prep.prep(loaded, Prep.autoschema(loaded)))
        val cont =
          if (c == 0) new Container(spark, "snapshot", prepped, Some(store))
          else tracer.span("store.open")(Container.load(spark, "snapshot", store))
        if (c > 0) tracer.span("store.upsert")(cont.upsert(prepped))
        tracer.span("store.persist")(cont.save())
        loaded
      } { loaded =>
        val rowsIn = counted(loaded, e.get("rows_in").asLong)
        tracer.add("etl.rows_in", rowsIn.toDouble)
        tracer.add("model.rows_hashed", rowsIn.toDouble)
        val st = spark.read.parquet(store)
        firstError(
          expect("snapshot_cycle", "rows_in", e.get("rows_in").asLong, rowsIn),
          checkCycle("snapshot_cycle", e, st, rowsIn, col(Meta.START) === ts, col(Meta.END) === ts),
          if (c == cycles.size - 1) checkFinal("snapshot_cycle", exp.get("final"), st) else None)
      }.isDefined
      cycleOk && op("query", "snapshot_read") {
        val cont = tracer.span("store.open")(Container.load(spark, "snapshot", store))
        (tracer.span("mql.find")(cont.find(query, date = null).select("_oid", "qty").collect()),
          cont.df.schema)
      } { case (rows, schema) =>
        tracer.add("mql.result_rows", rows.length.toDouble)
        probeMql(query, null, schema)
        expectSum("snapshot_read", e.get("reads").get(0), Check.of(rows))
      }.isDefined && op("query", "snapshot_point") {
        val cont = tracer.span("store.open")(Container.load(spark, "snapshot", store))
        tracer.span("mql.find")(cont.find(s"_oid == ${e.get("point_oid").asLong}", date = "~")
          .select("_oid", "_start", "_end", "status").collect())
      } { rows =>
        tracer.add("mql.result_rows", rows.length.toDouble)
        expectSum("snapshot_point", e.get("reads").get(1), Check.of(rows))
      }.isDefined
    }
  }

  /** Incremental sync: watermark → changed oids → wrap → flushUpsert →
    * watermark, compaction every few cycles, then a current-only MQL find
    * and a change feed since the previous watermark on the live store.
    */
  private object DeltaSync extends CycleRounds {
    private val query = readQuery(0)
    private val compactFiles = exp.get("compact_files").asInt

    protected def cycle(c: Int, root: File): Boolean = {
      val e = cycles(c)
      val ts = e.get("ts").asDouble
      val storeRoot = new File(root, "store").getPath
      val wm = new File(root, "watermark").getPath
      val compact = e.get("compact").asBoolean
      val cycleOk = op("cycle", "delta_cycle", Some(root),
        Map("rows_in" -> e.get("incoming").asLong, "input_bytes" -> e.get("bytes").asLong)) {
        val src = spark.read.parquet(input(e))
        val since = tracer.span("etl.delta")(Delta.readWatermark(wm,
          new Container(spark, "delta", Meta.wrap(src.limit(0), col("id"), 0.0)))).getOrElse(0.0)
        val changed = tracer.span("etl.delta")(Delta.changedOids(src, "id", "_mtime", since))
        val batch = src.join(changed, Seq("id"), "left_semi")
        val wrapped = tracer.span("model.wrap")(Meta.wrap(batch, col("id"), ts,
          start = Some(col("_mtime")), dataCols = Some(HashCols)).drop("_mtime"))
        val store = tracer.span("store.open")(IncrementalStore.open(spark, "delta", storeRoot))
        tracer.span("store.persist")(store.flushUpsert(wrapped))
        tracer.span("etl.delta")(Delta.writeWatermark(wm, ts))
        if (compact) tracer.span("store.compact")(store.compactHistory(compactFiles))
        (since, src, wrapped, store)
      } { case (since, src, wrapped, store) =>
        val rowsIn = counted(src, e.get("rows_in").asLong)
        val incoming = counted(wrapped, e.get("incoming").asLong)
        tracer.add("etl.rows_in", rowsIn.toDouble)
        tracer.add("model.rows_hashed", incoming.toDouble)
        val all = store.df
        firstError(
          expect("delta_cycle", "watermark", e.get("since").asLong, since.toLong),
          expect("delta_cycle", "source rows", e.get("rows_in").asLong, rowsIn),
          expect("delta_cycle", "incoming", e.get("incoming").asLong, incoming),
          checkCycle("delta_cycle", e, all, incoming,
            col(Meta.START) >= since, col(Meta.END).isNotNull && col(Meta.END) >= since),
          if (c == cycles.size - 1) checkFinal("delta_cycle", exp.get("final"), all) else None)
      }.isDefined
      val since = e.get("since").asDouble
      cycleOk && op("query", "delta_find") {
        val cur = tracer.span("store.open")(
          IncrementalStore.open(spark, "delta", storeRoot).currentDf)
        val cont = new Container(spark, "delta", cur)
        (tracer.span("mql.find")(cont.find(query, date = null).select("_oid", "qty").collect()),
          cur.schema)
      } { case (rows, schema) =>
        tracer.add("mql.result_rows", rows.length.toDouble)
        probeMql(query, null, schema)
        expectSum("delta_find", e.get("reads").get(0), Check.of(rows))
      }.isDefined && op("query", "delta_change_feed") {
        val all = tracer.span("store.open")(IncrementalStore.open(spark, "delta", storeRoot).df)
        tracer.span("temporal.change_feed")(
          all.changeFeed(since).select("_oid", "change_op", "change_at").collect())
      } { rows =>
        tracer.add("temporal.rows_out", rows.length.toDouble)
        expectSum("delta_change_feed", e.get("reads").get(1), Check.of(rows))
      }.isDefined
    }
  }

  /** Read-only analytics over a deep version history that set-up imports
    * with historyImport and save, plus graph walks over a power-law edge
    * table read from parquet. A measured unit is one pass over one op of
    * each kind: MQL finds, temporal operators and graph walks.
    */
  private object WarehouseReads extends Workload {
    private val queries = exp.get("queries").elements().asScala.toIndexedSeq
    private var history: Container = _
    private var edges: DataFrame = _

    private def importHistory(e: JsonNode, c: Int, wh: String): Unit =
      op("cycle", "history_import", Some(new File(wh).getParentFile),
        Map("rows_in" -> e.get("rows_in").asLong, "input_bytes" -> e.get("bytes").asLong)) {
        val raw = spark.read.parquet(input(e))
        val wrapped = tracer.span("model.wrap")(Meta.wrap(raw, col("id"), 0.0,
          start = Some(col("start")), end = Some(col("end")), dataCols = Some(HashCols))
          .drop("start", "end"))
        val target =
          if (c == 0) new Container(spark, "history", wrapped, Some(wh))
          else tracer.span("store.open")(Container.load(spark, "history", wh))
        if (c > 0) tracer.span("store.upsert")(target.historyImport(wrapped))
        tracer.span("store.persist")(target.save())
        raw
      } { raw =>
        val rowsIn = counted(raw, e.get("rows_in").asLong)
        tracer.add("model.rows_hashed", rowsIn.toDouble)
        tracer.add("store.rows_inserted", rowsIn.toDouble)
        val st = spark.read.parquet(wh)
        firstError(
          expect("history_import", "rows_in", e.get("rows_in").asLong, rowsIn),
          expect("history_import", "versions", e.get("total_rows").asLong, st.count()),
          if (c == cycles.size - 1) checkFinal("history_import", exp.get("final"), st)
          else None)
      }

    def setup(dir: File): Unit = {
      val wh = new File(dir, "history").getPath
      cycles.zipWithIndex.foreach { case (e, c) => importHistory(e, c, wh) }
      recordUnit(dir, cycles.last.get("total_rows").asLong)
      liveStore(dir)
      history = tracer.span("store.open")(Container.load(spark, "history", wh))
      edges = spark.read.parquet(new File(cfg.inputs, exp.get("edges_file").asText).getPath)
    }

    private def run(q: JsonNode): Unit = {
      val kind = q.get("kind").asText
      val p = q.get("params")
      def txt(k: String) = Option(p.get(k)).filterNot(_.isNull).map(_.asText).orNull
      def num(k: String) = p.get(k).asDouble
      def sel(df: DataFrame) =
        df.select(q.get("cols").elements().asScala.map(c => col(c.asText)).toSeq: _*).collect()
      def walk(f: DataFrame => DataFrame): Array[Row] = {
        val res = f(edges)
        val rows = res.collect()
        tracer.span("functions.unpin")(Graphs.unpin(res))
        rows
      }
      val layer = kind match {
        case "on_date" => "temporal.on_date"
        case "history" => "temporal.history"
        case "last_version" | "last_age" => "temporal.last_version"
        case "last_chain" => "temporal.last_chain"
        case "change_feed" => "temporal.change_feed"
        case "dfind" => "temporal.dfind"
        case "pagerank" => "functions.pagerank"
        case "label_prop" => "functions.label_prop"
        case _ => "mql.find"
      }
      op("query", kind) {
        tracer.span(layer) {
          kind match {
            case "find_current" | "point" | "find_asof" | "find_window" =>
              sel(history.find(txt("query"), date = txt("date")))
            case "count" => Array(Row(history.count(txt("query"), date = txt("date"))))
            case "distinct" =>
              history.distinct(txt("field"), txt("query"), date = txt("date")).collect()
            case "on_date" => sel(history.df.onDate(num("t")))
            case "history" =>
              sel(history.df.history(p.get("grid").elements().asScala.map(_.asDouble).toSeq))
            case "last_version" => sel(history.df.lastVersion)
            case "last_age" => sel(history.df.lastVersionsWithAge(num("t")))
            case "last_chain" => sel(history.df.lastChain())
            case "change_feed" => sel(history.df.changeFeed(num("t")))
            case "dfind" => sel(history.dfind(txt("query")))
            case "pagerank" => walk(Graphs.pageRank(_, "src", "dst", p.get("iters").asInt))
            case "label_prop" => walk(Graphs.labelPropagation(_, "src", "dst", p.get("iters").asInt))
          }
        }
      } { rows =>
        if (layer == "mql.find") tracer.add("mql.result_rows", rows.length.toDouble)
        else if (layer.startsWith("temporal.")) tracer.add("temporal.rows_out", rows.length.toDouble)
        else pinsLeaked = math.max(pinsLeaked, spark.sparkContext.getPersistentRDDs.size)
        if (layer == "mql.find" || kind == "dfind")
          probeMql(txt("query"), if (kind == "dfind") "~" else txt("date"), history.df.schema)
        expectSum(kind, q, Check.of(rows))
      }
    }

    def unit(dir: File): Unit = queries.foreach(run)
  }

  // ------------------------------------------------------------ driver

  def run(): Unit = {
    val w: Workload = cfg.workload match {
      case "snapshot_ingest" => SnapshotIngest
      case "delta_sync" => DeltaSync
      case "warehouse_reads" => WarehouseReads
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    def setUp(r: Int): Unit = {
      rep = r
      unitNo = -1
      phase = "setup"
      val traced = cfg.trace && r == cfg.setupReps - 1
      val p0 = hostProbeNs()
      val t0 = System.nanoTime()
      val b0 = bookkeepingNs
      spark = newSession()
      if (traced) tracer.start(spark)
      w.setup(new File(cfg.work, s"setup-$r"))
      setupS += (System.nanoTime() - t0 - (bookkeepingNs - b0)) / 1e9
      setupProbeNs += Seq(p0, hostProbeNs())
      if (traced) tracer.stop()
    }
    def runUnits(name: String, n: Int): Double = {
      val t0 = System.nanoTime()
      for (u <- 0 until n) {
        unitNo = u
        w.unit(new File(cfg.work, s"$name-$u"))
      }
      (System.nanoTime() - t0) / 1e9
    }

    // The first session, after the cold set-up, runs the untimed warm-up
    // and then the measured units, with no session change in between: the
    // first units of a run are up to half again as slow as the later ones
    // while the JIT compiler catches up, and so is the first unit after a
    // new session starts. The later set-ups run after them, on a warm JVM.
    setUp(0)
    phase = "warmup"
    val warmS = if (cfg.units > 0) runUnits("warm", cfg.warmUnits) else 0.0
    phase = "window"
    val windowS = runUnits("window", cfg.units)
    if (cfg.trace) {
      phase = "traced"
      tracer.start(spark)
      runUnits("traced", 1)
      tracer.stop()
    }
    for (r <- 1 until cfg.setupReps) {
      pinsLeaked = math.max(pinsLeaked, spark.sparkContext.getPersistentRDDs.size)
      spark.stop()
      delete(new File(cfg.work, s"setup-${r - 1}"))
      setUp(r)
    }

    val layer = if (!cfg.trace) Nil else {
      val (metrics, spanRows) = tracer.report()
      Files.write(new File(cfg.out.getParentFile, cfg.out.getName.replace(".json", "") + "-spans.json")
        .toPath, Json.write(spanRows).getBytes("UTF-8"))
      metrics
    }
    leakedDirs = math.max(leakedDirs, leaked(cfg.work))
    pinsLeaked = math.max(pinsLeaked, spark.sparkContext.getPersistentRDDs.size)

    val record = Map(
      "workload" -> cfg.workload, "cores" -> cfg.cores, "trace" -> cfg.trace,
      "setup_s" -> setupS, "setup_probe_ns" -> setupProbeNs, "warmup_s" -> warmS, "window_s" -> windowS,
      "units_run" -> cfg.units, "units" -> units, "ops" -> ops,
      "peak_rss_mb" -> peakRssMb(), "leaked_dirs" -> leakedDirs, "pins_leaked" -> pinsLeaked,
      "load_limit" -> loadLimit,
      "layer" -> layer.toMap)
    Files.write(cfg.out.toPath, Json.write(record).getBytes("UTF-8"))
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def close(): Unit = if (spark != null) spark.stop()
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cfg = Config(
      workload = arg("workload"),
      units = arg("units").toInt,
      warmUnits = arg("warm-units").toInt,
      trace = arg("trace") == "1",
      inputs = new File(arg("inputs")),
      work = new File(arg("work")),
      out = new File(arg("out")),
      cores = arg("cores").toInt,
      setupReps = arg("setup-reps").toInt,
      inject = kv.getOrElse("inject", ""))
    val bench = new Bench(cfg)
    try bench.run()
    finally bench.close()
  }
}
