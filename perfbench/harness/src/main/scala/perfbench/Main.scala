package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import graft.config.PipelineConfig
import graft.jobs.{JobState, LocalFsStore, SimpleStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}

/** One benchmark process: builds a graft session, runs one workload in a
  * closed loop from this single caller thread, and writes its raw
  * measurements as JSON for `perfbench/run.py` to summarize.
  *
  * Arguments (all `--key value`): workload (`setup`, `relational`,
  * `etl_job`, `fingerprint`, `selftest`), seed, seconds, trace (0/1),
  * cores, data (input dir, for the warm-up pass too), work (scratch dir),
  * out (result file),
  * expected (JSON the generator or the fingerprint record wrote), queries
  * (comma list of `SparkEntry.queries` names for the query workloads).
  */
object Main {
  private implicit val formats: DefaultFormats.type = DefaultFormats

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores").toInt
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val res = new Result
    res.values("setup_s") = setupS
    val ctx = Ctx(spark, a, res)
    try {
      a("workload") match {
        case "setup" => ()
        case "relational" => Queries.run(ctx, fingerprint = false)
        case "fingerprint" => Queries.run(ctx, fingerprint = true)
        case "etl_job" => Etl.run(ctx)
        case "selftest" => Queries.selfTest(ctx)
        case w => sys.error(s"unknown workload: $w")
      }
    } finally {
      res.spans = ctx.spans.toJson
      Files.write(Paths.get(a("out")), Serialization.write(res.toMap).getBytes("UTF-8"))
      spark.stop()
    }
  }

  def readJson(path: String): Map[String, Any] =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .extract[Map[String, Any]]
}

/** Raw measurements of one process. Lists hold one value per timed pass
  * (or per operation); `run.py` takes their medians. */
final class Result {
  val values = mutable.LinkedHashMap.empty[String, Any]
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var spans: Seq[Map[String, Any]] = Nil

  def add(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def op(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Throwable => failures += s"$name: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).linesIterator.take(1).mkString; false
    }
    if (!good) {
      failed += 1
      if (!failures.exists(_.startsWith(s"$name:"))) failures += s"$name: wrong output"
    }
  }
  def toMap: Map[String, Any] = values.toMap ++ Map(
    "series" -> series.map { case (k, v) => k -> v.toSeq }.toMap,
    "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.toSeq, "spans" -> spans)
}

final case class Ctx(spark: SparkSession, args: Map[String, String], res: Result) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val data: String = args("data")
  val work: Path = Paths.get(args("work"))
  val recorder = new Recorder(traced)
  spark.sparkContext.addSparkListener(recorder)
  val spans = new Spans(spark.sparkContext, traced)

  /** Jobs started inside `pass`'s spans, and in its `phase` when given. */
  def jobs(pass: Int, phase: String = ""): Seq[Recorder.Job] =
    recorder.jobsOf(spark.sparkContext)(spans.within(pass.toString))
      .filter(j => phase.isEmpty || j.phase == phase)

  /** Records the counters every layer shares for one pass, as `<layer>.*`:
    * those of the pass's streaming (micro-batch) jobs, or of all others.
    * `wallS` is the layer's wall time in the pass. */
  def layerCounters(layer: String, pass: Int, wallS: Double, streaming: Boolean = false): Unit = {
    val c = recorder.countersOf(spark.sparkContext)(k =>
      spans.within(pass.toString)(k.stripSuffix(Recorder.StreamSuffix)) &&
        k.endsWith(Recorder.StreamSuffix) == streaming)
    val js = jobs(pass).filter(_.streaming == streaming)
    val startMs = js.map(_.start).foldLeft(Long.MaxValue)(math.min)
    val covered = if (js.isEmpty) 0L else Recorder.covered(js, startMs, System.currentTimeMillis())
    res.add(s"$layer.jobs", js.size)
    res.add(s"$layer.driver_gap_s", wallS - covered / 1000.0)
    res.add(s"$layer.exec_run_s", c.runMs / 1000.0)
    res.add(s"$layer.exec_cpu_s", c.cpuNs / 1e9)
    res.add(s"$layer.shuffle_write_bytes", c.shuffleWriteBytes.toDouble)
    res.add(s"$layer.scan_bytes", c.scanBytes.toDouble)
    res.add(s"$layer.spill_bytes", c.spillBytes.toDouble)
  }

  /** Timed passes until `seconds` have passed, at least two: a slow host
    * then still gives the median two passes instead of one. */
  def untilDeadline(first: Int)(body: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = first
    do { body(i); i += 1 } while (i < first + 2 || System.nanoTime() < deadline)
  }
}

/** The query workloads: every query of a pack once per pass, in a
  * seed-keyed order, in a fresh `newSession()` with the cache cleared; each
  * result consumed over all columns by an order-insensitive hash. */
object Queries {
  /** (row count, order-insensitive hash): the sum of per-row xxhash64
    * values as an exact decimal, over every column of `df`. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = named.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** Fingerprint invariants: row order and partitioning do not change it;
    * a changed value or a repeated row does. */
  def selfTest(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val base = (1 to 500).map(i => (i.toLong, s"s$i", i * 0.5, Map(s"k$i" -> i))).toDF("a", "b", "c", "d")
    val fp = fingerprint(base)
    ctx.res.op("shuffled")(fingerprint(base.orderBy(rand(7)).repartition(5)) == fp)
    ctx.res.op("changed")(fingerprint(base.withColumn("c",
      when($"a" === 3L, lit(9.0)).otherwise($"c")))._2 != fp._2)
    ctx.res.op("repeated")(fingerprint(base.union(base.limit(1))) != fp)
    ctx.res.op("duplicate names")(fingerprint(base.select($"a", $"a")) ==
      fingerprint(base.select($"a", $"a".as("x"))))
  }

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Runs an untimed warm-up pass, then timed passes until the deadline.
    * Fingerprint mode instead runs two passes (two orders) and records
    * the fingerprints. */
  def run(ctx: Ctx, fingerprint: Boolean): Unit = {
    import ctx._
    val names = args("queries").split(",").toSeq
    val expected: Map[String, Map[String, Any]] =
      if (fingerprint) Map.empty
      else Main.readJson(args("expected")).asInstanceOf[Map[String, Map[String, Any]]]
    val seen = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, String)]]

    def onePass(pass: Int, timed: Boolean): Unit = {
      val session = spark.newSession()
      session.catalog.clearCache()
      var rows = 0L
      val (_, wall) = spans("pass", pass) {
        val qs = SparkEntry.queries
        order(names, seed, pass).foreach { name =>
          val (_, qWall) = spans(s"query.$name", pass) {
            res.op(name) {
              val (df, _) = spans("queries.build", pass, "build")(qs(name)(session, data))
              val (fp, _) = spans("queries.action", pass, "action")(Queries.fingerprint(df))
              seen.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += fp
              rows += fp._1
              fingerprint || (expected.get(name) match {
                case Some(e) => e("rows").toString.toLong == fp._1 &&
                  (e("check") == "rows" || e("hash") == fp._2)
                case None => false
              })
            }
          }
          if (timed) res.add("op_s", qWall)
          if (timed && traced) res.add(s"query.${name}_s", qWall)
        }
      }
      if (timed) {
        res.add("pass_s", wall)
        res.add("rows_per_s", rows / wall)
        if (traced) {
          val own = spans.toJson.filter(_("pass") == pass)
          def total(name: String) = own.filter(_("name") == name).map(s =>
            s("end_s").asInstanceOf[Double] - s("start_s").asInstanceOf[Double]).sum
          res.add("queries.build_s", total("queries.build"))
          res.add("queries.action_s", total("queries.action"))
          res.add("queries.eager_jobs", jobs(pass, "build").size)
          layerCounters("queries", pass, wall)
        }
      }
      System.gc()
      if (timed && traced) {
        val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        res.add("queries.retained_heap_mb", heap / 1048576.0)
      }
    }

    if (fingerprint) {
      onePass(0, timed = false); onePass(1, timed = false)
      res.values("fingerprints") = seen.map { case (n, fps) =>
        n -> Map("rows" -> fps.head._1, "hash" -> fps.head._2,
          "check" -> (if (fps.map(_._2).distinct.size == 1) "hash" else "rows"))
      }.toMap
    } else {
      // a full-size warm-up: after one over a hundredth of the tables the
      // first timed pass read 10-40% slower than the second
      val t0 = System.nanoTime()
      onePass(0, timed = false)
      res.values("warmup_s") = (System.nanoTime() - t0) / 1e9
      untilDeadline(1)(p => onePass(p, timed = true))
    }
  }
}

/** A SimpleStore wrapper that times every state-document write. */
final class TimedStore(inner: SimpleStore, spans: Spans, pass: Int) extends SimpleStore {
  var writes = 0L
  var writeS = 0.0
  override def load(path: String): Option[String] = inner.load(path)
  override def write(path: String, doc: String): Unit = {
    writeS += spans("jobs.state_write", pass)(inner.write(path, doc))._2
    writes += 1
  }
}

/** Small file-tree helpers for the run directories. */
object Dirs {
  def tree(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toList finally s.close() }
  def bytes(p: Path): Long = tree(p).filter(Files.isRegularFile(_)).map(Files.size).sum
  def delete(p: Path): Unit = tree(p).reverse.foreach(Files.deleteIfExists)
  def esc(p: Path): String = p.toString.replace("\\", "\\\\").replace("\"", "\\\"")
}

/** `etl_job`: the JSON merge declared as one PipelineConfig job, run
  * through JobRunner with a timed LocalFsStore:
  *   1. decode each entity's NDJSON drops, `dedup_exact` the re-deliveries
  *      by payload, write parquet;
  *   2. merge both outputs through a `sql` source into the target schema;
  *   3. a declared `near_dup_ingest` loop over a document drop (file-source
  *      micro-batch, `foreachBatch`, persisted band index, checkpoint);
  *   4. a `command` step.
  * Each iteration runs the job on fresh state, then re-runs it against the
  * saved state, which must skip every step without a Spark job. */
object Etl {
  private val Schemas = Map(
    "orders" -> ("seq BIGINT, o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING"),
    "lineitem" -> ("seq BIGINT, l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_shipdate DATE"))
  val Steps = Seq("decode_orders", "decode_lineitem", "merge", "ingest_docs", "publish")

  def config(in: String, out: String): String = {
    def decode(entity: String) = {
      val fields = Schemas(entity).split(", ").map(_.split(" ")(0)).filter(_ != "seq")
      s"""{ "step": "decode_$entity", "kind": "stream",
         |  "source": { "type": "json_files", "paths": ["$in/$entity/*.ndjson"],
         |              "schema": "${Schemas(entity)}" },
         |  "transforms": [
         |    { "op": "withColumn", "name": "payload",
         |      "expr": "to_json(struct(${fields.mkString(", ")}))" },
         |    { "op": "dedup_exact", "cols": ["seq", "payload"] },
         |    { "op": "drop", "cols": ["payload", "seq"] } ],
         |  "sink": { "type": "parquet", "path": "$out/$entity" } }""".stripMargin
    }
    s"""{ "id": "perfbench", "name": "json_merge", "maxErrors": 1000000, "steps": [
       |  ${decode("orders")},
       |  ${decode("lineitem")},
       |  { "step": "merge", "kind": "stream",
       |    "source": { "type": "sql", "query": "SELECT l.l_orderkey AS order_key, o.o_custkey AS customer_key, l.l_linenumber AS line_number, l.l_partkey AS part_key, l.l_quantity AS quantity, CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,2)) AS net_price, o.o_orderdate AS order_date, l.l_shipdate AS ship_date, o.o_orderpriority AS priority FROM parquet.`$out/lineitem` l JOIN parquet.`$out/orders` o ON l.l_orderkey = o.o_orderkey" },
       |    "sink": { "type": "parquet", "path": "$out/merged" } },
       |  { "step": "ingest_docs", "kind": "ingest",
       |    "source": { "type": "json", "paths": ["$in/docs/*.ndjson"],
       |                "schema": "doc_id BIGINT, text STRING" },
       |    "transforms": [ { "op": "near_dup_ingest", "cols": ["doc_id", "text"],
       |                      "expr": "3,96,48,0.5" } ],
       |    "sink": { "type": "parquet", "path": "$out/clean",
       |      "options": { "index": "$out/index", "checkpoint": "$out/checkpoint" } } },
       |  { "step": "publish", "kind": "command",
       |    "sql": "SELECT count(*) FROM parquet.`$out/merged`" } ] }""".stripMargin
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val expected = Main.readJson(args("expected"))
    def exp(e: String, k: String): Long =
      expected(e).asInstanceOf[Map[String, Any]](k).toString.toLong
    val keep = expected("docs").asInstanceOf[Map[String, Any]]("keep")
      .asInstanceOf[Seq[Any]].map(_.toString.toLong).toSet
    val lines = exp("orders", "lines") + exp("lineitem", "lines")
    val in = Dirs.esc(Paths.get(data))

    /** One job run on fresh state; the untimed warm-up (i = 0) also checks
      * the ingest against the batch near-dup operator. */
    def iteration(i: Int, timed: Boolean): Unit = {
      val dir = work.resolve(s"etl-$i")
      val out = dir.resolve("out")
      val store = new TimedStore(new LocalFsStore(dir.resolve("state").toString), spans, i)
      val conf = PipelineConfig.parse(config(in, Dirs.esc(out)))
      res.op(s"etl_job.run$i") {
        val (st, wall) = spans("config.run", i)(PipelineConfig.run(spark, conf, store))
        val (writes, writeS) = (store.writes, store.writeS)
        val (st2, resumeWall) = spans("config.resume", i)(PipelineConfig.run(spark, conf, store))
        val resumeJobs = recorder.jobsOf(spark.sparkContext)(spans.within(spans.lastTag)).size
        val stepS = Steps.map { s =>
          val (start, end) = st.streams.get(s).map(x => (x.startedMs, x.finishedMs))
            .getOrElse((st.commands(s).startedMs, st.commands(s).finishedMs))
          s -> (end.getOrElse(start) - start) / 1000.0
        }.toMap
        if (timed) {
          res.add("pass_s", wall)
          res.add("rows_per_s", lines / wall)
          res.add("op_s", stepS("ingest_docs"))
        }
        if (timed && traced) {
          Steps.foreach(s => res.add(s"etl.step.${s}_s", stepS(s)))
          res.add("config.run_s", wall)
          res.add("config.resume_s", resumeWall)
          res.add("config.resume_jobs", resumeJobs)
          res.add("jobs.state_writes", writes)
          res.add("jobs.state_write_s", writeS)
          val dec = Seq("decode_orders", "decode_lineitem").map(st.streams)
          res.add("etl.rows_ok", dec.map(s => s.totalLinesScanned - s.numErrors).sum)
          res.add("etl.rows_err", dec.map(_.numErrors).sum)
          val parts = Seq("orders", "lineitem", "merged").flatMap(d => Dirs.tree(out.resolve(d)))
            .filter(_.getFileName.toString.startsWith("part-"))
          res.add("etl.sink_bytes", parts.map(Files.size).sum.toDouble)
          res.add("etl.sink_files", parts.size)
          layerCounters("etl", i, wall - stepS("ingest_docs"))
          layerCounters("streaming", i, stepS("ingest_docs"), streaming = true)
          res.add("streaming.jobs_per_batch", jobs(i).count(_.streaming).toDouble)
          res.add("streaming.index_bytes", Dirs.bytes(out.resolve("index")).toDouble)
          res.add("streaming.checkpoint_bytes", Dirs.bytes(out.resolve("checkpoint")).toDouble)
        }
        def stream(s: String) = st.streams(s)
        val okCounts = Seq("orders", "lineitem").forall { e =>
          val s = stream(s"decode_$e")
          s.status == JobState.Complete && s.totalLinesScanned == exp(e, "lines") &&
            s.numErrors == exp(e, "err") && s.outputs.map(_.linesWritten).sum == exp(e, "out")
        }
        val clean = spark.read.parquet(out.resolve("clean").toString)
          .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
        okCounts && stream("merge").outputs.map(_.linesWritten).sum == exp("merged", "out") &&
          st.commands("ingest_docs").status == JobState.Complete &&
          st.commands("publish").status == JobState.Complete &&
          clean.length == clean.distinct.length && clean.toSet == keep &&
          (timed || batchNearDups(spark, s"$data/docs") == keep) &&
          Steps.forall(s => st2.isStreamComplete(s) || st2.isCommandComplete(s)) &&
          resumeJobs == 0
      }
      Dirs.delete(dir)
    }

    // the warm-up is a full-size job run: after a twentieth-size one the
    // first timed run read 15-50% slower than the second
    val t0 = System.nanoTime()
    iteration(0, timed = false)
    res.values("warmup_s") = (System.nanoTime() - t0) / 1e9
    untilDeadline(1)(i => iteration(i, timed = true))
  }

  /** Survivors of the batch near-dup operator over the drop: the ingest's
    * clean set must equal them. */
  def batchNearDups(spark: SparkSession, dir: String): Set[Long] = {
    val docs = spark.read.schema("doc_id BIGINT, text STRING").json(dir)
    val pairs = graft.llm.Dedup.minhashNearDups(docs, "doc_id", "text", 3, 96, 48, 0.5)
    val losers = graft.llm.Dedup.survivorAssignment(pairs)
      .where(col("id") =!= col("survivor_id")).select(col("id"))
    docs.join(losers, docs("doc_id") === losers("id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }
}
