package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DedupPipeline, JsonlDedupJob}
import graft.functions.StableIds
import graft.operators._
import graft.sources.Writeback

/** One benchmark process for one workload and seed:
  *
  *   run <workload> <seed> <seconds> <trace 0|1> <work dir>
  *
  * Sets up (timed from process start: session up with GraftExtensions, the
  * input listed; generating a missing input is not part of the time), runs
  * passes, checks every pass's output against the planted truth, and prints
  * one raw JSON record for perfbench/run.py.
  *
  * A run makes one cold first pass, warms up for `seconds`, then measures
  * passes for `seconds`. With trace 1 the measured window alternates an
  * untraced pass with a traced one: the traced pass calls each layer's
  * public function in pipeline order on pinned input, materializes its
  * output through the noop sink under the layer's job group, and records a
  * span around the call.
  */
object Main {

  val Layers: Seq[String] = Seq(
    "JsonlDedupJob.readTree", "SubstringDedup.removeRanges",
    "SubstringDedup.annotateWith", "Writeback.jsonlTree", "StableIds.idMap",
    "ExactDedup.flag", "MinHashLSH.candidatePairs", "MinHashLSH.verifiedPairs",
    "Hamming.pairs", "ConnectedComponents.assign")

  case class Span(name: String, parent: String, pass: Int, startNs: Long, endNs: Long)

  /** What one pass leaves for the output check, in a form traced and
    * untraced passes share: remove ranges per doc, and cluster per image.
    */
  case class Outputs(ranges: Map[String, Seq[(Long, Long)]], clusters: Map[String, String])

  case class Check(ok: Boolean, recall: Double, precision: Double, problems: Seq[String])

  private def procStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val local = new File(work, "spark-local"); local.mkdirs()
    // the repo's benchmark session settings (graft.Bench.session), with
    // scratch space kept inside the work directory
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "128m")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    require(s.catalog.functionExists("graft_polyhash61"), "GraftExtensions not registered")
    s
  }

  private def host(): Map[String, Any] = {
    val memKb = scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong }
      .getOrElse(-1L)
    Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_mb" -> memKb / 1024, "load1" -> graft.Bench.load1())
  }

  /** Heap in use after a full collection plus block-manager storage still
    * held, in MB: what a finished pass leaves behind. The pause between
    * collections lets the ContextCleaner drop blocks of RDDs the first
    * collection found unreachable.
    */
  private def retainedMb(spark: SparkSession): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    val rt = Runtime.getRuntime
    val heap = rt.totalMemory - rt.freeMemory
    val storage = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum
    (heap + storage) / 1e6
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---------------------------------------------------------------- workloads

  sealed trait Workload {
    def inputBytes: Long
    def windowPositions: Long
    /** Lists the input (part of set-up). */
    def list(spark: SparkSession): Unit
    /** One timed pass: runs the pipeline and materializes its output. */
    def pass(spark: SparkSession, out: String): Unit
    /** After the timed window: reads the pass's output back. */
    def collect(spark: SparkSession, out: String): Outputs
    def check(o: Outputs): Check
    /** The same pipeline, one span and job group per layer. */
    def traced(spark: SparkSession, out: String, span: (String, => Unit) => Unit): Outputs
    def release(spark: SparkSession): Unit = ()
  }

  private def rangesOf(rows: Array[org.apache.spark.sql.Row]): Map[String, Seq[(Long, Long)]] =
    rows.map { r =>
      r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1)))
    }.filter(_._2.nonEmpty).toMap

  final class Jsonl(dir: String, truth: JsonlTruth) extends Workload {
    def inputBytes: Long = truth.textBytes
    def windowPositions: Long = truth.windowPositions
    def list(spark: SparkSession): Unit = JsonlDedupJob.listTree(spark, dir)

    def pass(spark: SparkSession, out: String): Unit =
      noop(JsonlDedupJob.run(spark, dir, out, minLen = JsonlInput.MinLen,
        mode = "annotate", compression = "gzip").written)

    def collect(spark: SparkSession, out: String): Outputs = {
      val docs = spark.read.option("recursiveFileLookup", "true")
        .schema("doc_id STRING, text STRING, sa_remove_ranges ARRAY<STRUCT<s: BIGINT, e: BIGINT>>")
        .json(out)
      val agg = docs.agg(count(lit(1)), sum(octet_length(encode(col("text"), "UTF-8"))))
        .collect()(0)
      require(agg.getLong(0) == truth.nDocs, s"${agg.getLong(0)} docs written, ${truth.nDocs} read")
      require(agg.getLong(1) == truth.textBytes, "written text differs from the input text")
      Outputs(rangesOf(docs.select("doc_id", "sa_remove_ranges").collect()), Map.empty)
    }

    def check(o: Outputs): Check = {
      val flagged = o.ranges.values.flatten.map { case (s, e) => e - s }.sum
      val planted = truth.planted.values.map { case (s, e) => e - s }.sum
      val hit = o.ranges.iterator.map { case (d, rs) =>
        truth.planted.get(d).map { case (ps, pe) =>
          rs.map { case (s, e) => math.max(0L, math.min(e, pe) - math.max(s, ps)) }.sum
        }.getOrElse(0L)
      }.sum
      val wrong = (o.ranges.keySet ++ truth.planted.keySet).toSeq.sorted
        .filter(d => o.ranges.getOrElse(d, Nil) != truth.planted.get(d).toSeq)
      Check(wrong.isEmpty, hit.toDouble / planted, if (flagged == 0) 0.0 else hit.toDouble / flagged,
        wrong.take(5).map(d => s"$d: ranges ${o.ranges.getOrElse(d, Nil)}, planted ${truth.planted.get(d)}"))
    }

    def traced(spark: SparkSession, out: String, span: (String, => Unit) => Unit): Outputs = {
      var keyed: DataFrame = null
      var ranges: DataFrame = null
      var annotated: DataFrame = null
      span("JsonlDedupJob.readTree", {
        keyed = pin(JsonlDedupJob.readTree(spark, dir, requiredField = "text")
          .withColumn("path", regexp_replace(col("path"), "\\.(gz|zst)$", "")), "JsonlDedupJob.readTree")
      })
      span("SubstringDedup.removeRanges", {
        ranges = pin(SubstringDedup.removeRanges(keyed,
          SubstringDedup.Config(JsonlInput.MinLen, verifyPrune = true)), "SubstringDedup.removeRanges")
      })
      span("SubstringDedup.annotateWith", {
        annotated = pin(SubstringDedup.annotateWith(keyed, ranges), "SubstringDedup.annotateWith")
      })
      span("Writeback.jsonlTree", {
        materialize(Writeback.jsonlTree(annotated.drop("k"), out, compression = "gzip"),
          "Writeback.jsonlTree")
      })
      collect(spark, out)
    }
  }

  final class Images(dir: String, truth: ImagesTruth) extends Workload {
    def inputBytes: Long = truth.inputBytes
    def windowPositions: Long = truth.windowPositions
    private var images: DataFrame = _
    private var held: Seq[DataFrame] = Nil
    private var ids: DataFrame = _
    def list(spark: SparkSession): Unit = images = spark.read.parquet(dir)

    def pass(spark: SparkSession, out: String): Unit = {
      val res = DedupPipeline.run(spark, images, DedupPipeline.Config())
      // persisted so the check after the window reads this pass's output
      // instead of running the pipeline again
      held = Seq(res.clusters.persist(), res.annotated.persist())
      held.foreach(noop)
      ids = res.keyed.select("k", "image_id")
    }

    def collect(spark: SparkSession, out: String): Outputs = {
      val Seq(clusters, annotated) = held
      val n = annotated.count()
      require(n == truth.n, s"annotated has $n rows, input ${truth.n}")
      outputs(clusters, annotated.join(ids, "k").select("image_id", "sa_remove_ranges"))
    }

    private def outputs(clusters: DataFrame, ranges: DataFrame): Outputs = {
      val cl = clusters.select("image_id", "cluster_id").collect()
      require(cl.length == truth.n, s"clusters has ${cl.length} rows, input ${truth.n}")
      Outputs(rangesOf(ranges.collect()), cl.map(r => r.getString(0) -> r.getString(1)).toMap)
    }

    override def release(spark: SparkSession): Unit = {
      held.foreach(_.unpersist(true)); held = Nil
    }

    def check(o: Outputs): Check = {
      val c = o.clusters
      val together = truth.pairs.count { case (a, b) => c.get(a) == c.get(b) }
      val apart = truth.negatives.count { case (a, b) => c.get(a) != c.get(b) }
      val notMin = c.groupBy(_._2).collect {
        case (cid, members) if members.keys.min != cid => cid
      }
      val missedRuns = truth.substr.filterNot { case (id, s, e) =>
        o.ranges.getOrElse(id, Nil).exists { case (rs, re) => rs <= s && re >= e }
      }
      val problems =
        truth.pairs.filter { case (a, b) => c.get(a) != c.get(b) }.take(3).map(p => s"pair $p split") ++
        truth.negatives.filter { case (a, b) => c.get(a) == c.get(b) }.take(3).map(p => s"negative $p merged") ++
        notMin.take(3).map(cid => s"cluster $cid is not its smallest member") ++
        missedRuns.take(3).map(r => s"substring run $r not flagged")
      Check(problems.isEmpty, together.toDouble / truth.pairs.size,
        apart.toDouble / truth.negatives.size, problems)
    }

    def traced(spark: SparkSession, out: String, span: (String, => Unit) => Unit): Outputs = {
      val cfg = DedupPipeline.Config()
      var idMap: DataFrame = null
      var exact: DataFrame = null
      var ranges: DataFrame = null
      var near: DataFrame = null
      var phash: DataFrame = null
      var comps: DataFrame = null
      var annotated: DataFrame = null
      span("StableIds.idMap", {
        idMap = pin(StableIds.idMap(images, "image_id", "k"), "StableIds.idMap")
      })
      // glue between layers, as DedupPipeline.run does it; the time lands
      // in the pass span's self time
      val keyed = pin(images.join(broadcast(idMap), Seq("image_id")), "glue")
      val captions = keyed.select(col("k"), col("caption").as("text"))
      span("ExactDedup.flag", {
        exact = pin(ExactDedup.flag(
          keyed.withColumn("content",
            concat(sha2(col("bytes"), 256), DedupPipeline.nullSafeCaption(col("caption")))),
          "content").where(col("is_dup")).select(col("keeper").as("a"), col("k").as("b")),
          "ExactDedup.flag")
      })
      span("SubstringDedup.removeRanges", {
        ranges = pin(SubstringDedup.removeRanges(captions, SubstringDedup.Config(cfg.minLen)),
          "SubstringDedup.removeRanges")
      })
      span("SubstringDedup.annotateWith", {
        annotated = pin(SubstringDedup.annotateWith(captions, ranges), "SubstringDedup.annotateWith")
      })
      span("MinHashLSH.candidatePairs", {
        materialize(MinHashLSH.candidatePairs(captions, cfg.minhash), "MinHashLSH.candidatePairs")
      })
      span("MinHashLSH.verifiedPairs", {
        near = pin(MinHashLSH.verifiedPairs(captions, cfg.minhash, cfg.jaccThreshold,
          pruneVerify = true), "MinHashLSH.verifiedPairs")
      })
      val n = idMap.count()
      span("Hamming.pairs", {
        phash = pin(Hamming.pairs(keyed.select(col("k").as("id"), col("phash").as("bits")),
          cfg.hammingRadius, nHint = n), "Hamming.pairs")
      })
      span("ConnectedComponents.assign", {
        val edges = exact.select("a", "b").unionAll(near.select("a", "b"))
          .unionAll(phash.select("a", "b"))
        comps = pin(ConnectedComponents.assign(idMap.select(col("k").as("id")), edges),
          "ConnectedComponents.assign")
      })
      val clusters = comps
        .join(idMap.select(col("k").as("id"), col("image_id")), "id")
        .join(idMap.select(col("k").as("comp"), col("image_id").as("cluster_id")), "comp")
      val o = outputs(clusters, annotated.join(idMap, "k").select("image_id", "sa_remove_ranges"))
      Seq(idMap, keyed, exact, ranges, annotated, near, phash, comps).foreach(_.unpersist(true))
      o
    }
  }

  // layer output row counts, by job group, from the last traced pass
  private val rowsOut = mutable.Map.empty[String, Long]

  /** Materializes every column of df through the noop sink, counting rows. */
  private def materialize(df: DataFrame, group: String): Unit = {
    val obs = Observation(group.replace('.', '_'))
    noop(df.observe(obs, count(lit(1)).as("rows")))
    rowsOut(group) = obs.get("rows").asInstanceOf[Long]
  }

  /** Materializes df into the cache, so the next layer reads pinned input. */
  private def pin(df: DataFrame, group: String): DataFrame = {
    val p = df.persist()
    materialize(p, group)
    p
  }

  // ---------------------------------------------------------------- runs

  private def load(name: String, seed: Long, work: String, spark: SparkSession): Workload = {
    val dir = new File(work, s"data/$name-$seed").getAbsolutePath
    val truthFile = new File(dir + ".truth")
    def cached[T](make: => T): T = {
      if (!truthFile.exists()) {
        val t = make
        val os = new java.io.ObjectOutputStream(new java.io.FileOutputStream(truthFile))
        try os.writeObject(t) finally os.close()
        t
      } else {
        val is = new java.io.ObjectInputStream(new java.io.FileInputStream(truthFile))
        try is.readObject().asInstanceOf[T] finally is.close()
      }
    }
    new File(work, "data").mkdirs()
    name match {
      case "jsonl_m500" =>
        new Jsonl(dir, cached(JsonlInput.write(seed, nDocs = 700, files = 8, dir)))
      case "images_dense" =>
        new Images(dir, cached(ImagesInput.write(spark, seed, nBase = 1000,
          cliqueSize = 300, dir)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Session up and input listed, timed from process start; generation of
    * a missing input is excluded.
    */
  private def setUp(name: String, seed: Long, work: String): (SparkSession, Workload, Double) = {
    val spark = session(work)
    val upS = (System.currentTimeMillis() - procStartMs) / 1e3
    val w = load(name, seed, work, spark)
    val t0 = System.nanoTime()
    w.list(spark)
    (spark, w, upS + (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val code = try argv.toSeq match {
      case Seq("run", name, seed, seconds, trace, work) =>
        run(name, seed.toLong, seconds.toInt, trace == "1", work)
      case _ =>
        System.err.println("usage: run <workload> <seed> <seconds> <0|1> <work dir>")
        2
    } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def run(name: String, seed: Long, seconds: Int, trace: Boolean, work: String): Int = {
    val (spark, w, setupS) = setUp(name, seed, work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    val out = new File(work, s"out/$name-$seed").getAbsolutePath
    val tracedOut = out + "-traced"
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerStats = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Span]
    var last: Outputs = null
    var recall = Double.NaN
    var precision = Double.NaN
    var failed = 0

    def onePass(phase: String): Unit = {
      val id = passes.size
      val h = host()
      listener.reset()
      sc.setJobGroup("pass", s"pass $id", interruptOnCancel = false)
      val t0 = System.nanoTime()
      val ok = try { w.pass(spark, out); true }
        catch { case NonFatal(e) => e.printStackTrace(); false }
      val secs = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      val st = listener.stats("pass")
      val checked = ok && (try {
        val o = w.collect(spark, out)
        val c = w.check(o)
        if (!c.ok) System.err.println(s"pass $id failed its check: ${c.problems.mkString("; ")}")
        last = o; recall = c.recall; precision = c.precision
        c.ok
      } catch { case NonFatal(e) => e.printStackTrace(); false })
      w.release(spark)
      if (!checked) failed += 1
      System.err.println(f"perfbench: pass $id ($phase) $secs%.2f s, ok=$checked")
      passes += h ++ Map("pass" -> id, "phase" -> phase, "seconds" -> secs,
        "ok" -> checked, "shuffle_write_bytes" -> st.shuffleWriteBytes,
        "spill_bytes" -> st.spillBytes, "tasks_failed" -> st.tasksFailed, "jobs" -> st.jobs) ++
        (if (phase == "measured") Map("retained_mb" -> retainedMb(spark)) else Map.empty)
    }

    def tracedPass(): Unit = {
      val id = passes.size
      val h = host()
      listener.reset()
      rowsOut.clear()
      def span(layer: String, body: => Unit): Unit = {
        sc.setJobGroup(layer, layer, interruptOnCancel = false)
        val t0 = System.nanoTime()
        try body finally {
          spans += Span(layer, "pass", id, t0, System.nanoTime())
          System.err.println(f"perfbench: traced pass $id $layer ${(System.nanoTime() - t0) / 1e9}%.2f s")
          sc.setJobGroup("glue", "glue", interruptOnCancel = false)
        }
      }
      sc.setJobGroup("glue", "glue", interruptOnCancel = false)
      val t0 = System.nanoTime()
      val res = try Some(w.traced(spark, tracedOut, span))
        catch { case NonFatal(e) => e.printStackTrace(); None }
      val t1 = System.nanoTime()
      spans += Span("pass", "", id, t0, t1)
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      val same = res.exists(o => last != null && o == last)
      if (res.isDefined && !same)
        System.err.println(s"traced pass $id differs from the untraced output")
      if (!same) failed += 1
      layerStats += scala.collection.immutable.ListMap(Layers.map { l =>
        val s = listener.stats(l)
        l -> Map("jobs" -> s.jobs, "busy_s" -> s.busyS, "task_s" -> s.taskS,
          "rows_out" -> rowsOut.getOrElse(l, 0L), "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "spill_bytes" -> s.spillBytes, "skew" -> s.skew,
          "peak_task_mem_bytes" -> s.peakTaskMemBytes, "tasks_failed" -> s.tasksFailed)
      }: _*)
      passes += h ++ Map("pass" -> id, "phase" -> "traced",
        "seconds" -> (t1 - t0) / 1e9, "ok" -> same)
    }

    onePass("first")
    val warmEnd = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < warmEnd) onePass("warmup")
    val measureEnd = System.nanoTime() + seconds * 1000000000L
    do {
      onePass("measured")
      if (trace) tracedPass()
    } while (System.nanoTime() < measureEnd)

    spark.stop()
    val spanFile = new File(work, s"trace/$name-$seed.spans.json")
    spanFile.getParentFile.mkdirs()
    val spanRows = spans.map(s => Map("name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9))
    Files.write(spanFile.toPath, Json.render(spanRows).getBytes(StandardCharsets.UTF_8))
    println("PERFBENCH_RAW " + Json.render(Map(
      "workload" -> name, "seed" -> seed, "setup_s" -> setupS,
      "input_bytes" -> w.inputBytes, "window_positions" -> w.windowPositions,
      "recall" -> recall, "precision" -> precision,
      "attempted" -> passes.size, "failed" -> failed,
      "passes" -> passes, "layers" -> layerStats, "span_file" -> spanFile.getPath)))
    0
  }
}

/** Minimal JSON rendering for the benchmark's own records. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
