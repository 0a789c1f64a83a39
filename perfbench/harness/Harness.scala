package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{AudioToDataset, SparkEntry}
import graft.core.GraftSession
import graft.functions.Wav
import graft.operators.Sharding
import graft.sources.{AudioScan, Metadata}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.{LinkedHashMap => JMap}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark harness that runs inside one JVM: `Harness <config.json>`.
  *
  * Writes a JSON record (to the config's `record` path) with the setup time,
  * every pass's wall time and, when `trace` is set, the per-layer spans and
  * engine counters. Output checking happens afterwards, in `check.py`, so
  * it never overlaps a timed pass. */
object Harness {
  private val mapper = new ObjectMapper()
  /** Fewest timed CLI passes per untraced run, whatever the time budget. */
  private val MinPasses = 3
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed(f: => Unit): Double = { val t0 = now(); f; secs(t0) }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  /** Flushes the previous pass's output between (untimed) passes, so no
    * pass competes with the write-back of the one before it. */
  private def sync(): Unit = new ProcessBuilder("sync").inheritIO().start().waitFor()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new java.io.File(args(0)))
    val started = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val rec = new JMap[String, Any]()
    cfg.get("workload").asText() match {
      case "query_hot" => queryHot(cfg, started, rec)
      case _           => ingest(cfg, started, rec)
    }
    rec.put("peak_rss_mb", peakRssMb())
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(cfg.get("record").asText()), rec)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def list(xs: Iterable[Double]): java.util.List[Double] = xs.toSeq.asJava

  private def counters(c: Counters, wallS: Double): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("wall_s", wallS)
    m.put("jobs", c.jobs); m.put("stages", c.stages); m.put("tasks", c.tasks)
    m.put("plan_s", c.planMs / 1e3)
    m.put("executor_run_s", c.runMs / 1e3); m.put("executor_cpu_s", c.cpuNs / 1e9)
    m.put("gc_s", c.gcMs / 1e3)
    m.put("sched_gap_s", wallS - c.activeMs / 1e3)
    m.put("shuffle_read_bytes", c.shuffleRead); m.put("shuffle_write_bytes", c.shuffleWrite)
    m.put("spill_bytes", c.spill); m.put("input_bytes", c.input)
    m.put("batches", c.batches)
    m.put("phases", new JMap[String, Any](c.phases.map { case (k, v) => k -> (v / 1e3: Any) }.asJava))
    m
  }

  // ---- ingest workloads: the shipped CLI entrypoint -----------------------

  private def ingest(cfg: com.fasterxml.jackson.databind.JsonNode, started: Long,
                     rec: JMap[String, Any]): Unit = {
    val base = cfg.get("cli_args").elements().asScala.map(_.asText()).toArray
    val out = cfg.get("out").asText()
    def cli(in: String, meta: String, dest: String): Array[String] =
      base ++ Array("--input", in, "--metadata-file", meta, "--output", dest)
    val in = cfg.get("input").asText()
    val meta = cfg.get("meta").asText()
    val seconds = cfg.get("seconds").asDouble()
    val trace = cfg.get("trace").asBoolean()

    // set-up ends after the untimed warm-up passes over the corpus
    val outputs = ArrayBuffer.empty[String]
    val warm = Seq.fill(cfg.get("warm_passes").asInt()) {
      val dest = s"$out/warm${outputs.size}"
      outputs += dest
      val s = timed(AudioToDataset.main(cli(in, meta, dest)))
      sync()
      s
    }
    rec.put("setup_s", (System.currentTimeMillis() - started) / 1e3)
    rec.put("warm_s", list(warm))

    val cores = cfg.get("cores").asText()
    val filesPerShard = cfg.get("files_per_shard").asInt()
    val mime = base.contains("--check-mime-type")
    val walls = ArrayBuffer.empty[Double]
    val layers = ArrayBuffer.empty[JMap[String, Any]]

    def untracedPass(): Unit = {
      val dest = s"$out/pass${outputs.size}"
      walls += timed(AudioToDataset.main(cli(in, meta, dest)))
      outputs += dest
      sync()
    }

    def tracedPass(): JMap[String, Any] = {
      val l = new JMap[String, Any]()
      val dest = s"$out/traced${layers.size}"
      val scope = s"write${layers.size}"
      Trace.scope = scope; Trace.on = true
      val writeS = timed(AudioToDataset.main(cli(in, meta, dest)))
      Trace.on = false
      l.put("write_s", writeS)
      l.put("engine", counters(Trace(scope), writeS))
      outputs += dest
      sync()

      val spark = SparkSession.builder().master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores).getOrCreate()
      // cumulative cuts, each materialized to the noop sink: a layer's
      // time is its cut minus the cut before it. The steps mirror
      // AudioToDataset.planWithCount, which is not public layer by layer.
      def scan() = AudioScan.scan(spark, in, AudioScan.DefaultMaxDepth, Some(meta), mime)
      noop(scan()) // the new session's first job is not part of any cut
      l.put("cut_scan_s", timed(noop(scan())))
      def parsed() = scan().withColumn("wav", Wav.parseCol(col("content")))
      l.put("cut_parse_s", timed(noop(parsed())))
      var loaded: (DataFrame, Metadata.MetaSchema) = null
      l.put("meta_load_s", timed { loaded = Metadata.load(spark, meta); loaded._1.count() })
      val (metaDf, schema) = loaded
      def joined() = Metadata.joinFiles(parsed(), metaDf, schema)
      l.put("cut_join_s", timed(noop(joined())))
      def assembled() = joined().select(Seq(
        struct(col("content").as("bytes"), col("wav.sampling_rate").as("sampling_rate"),
          col("relative_path").as("path")).as("audio"),
        col("wav.duration").as("duration")) ++ schema.keys.map(col): _*)
      l.put("cut_shard_s", timed {
        val (sharded, _) = Sharding.shardConsecutiveByKeyCounted(
          assembled().withColumn("_order", col("audio.path")), "_order", filesPerShard)
        noop(sharded.drop("_order"))
      })
      if (layers.isEmpty) l.putAll(layerCounts(spark, in, scan(), parsed(), metaDf))
      spark.stop()
      l
    }

    // a traced run alternates an untraced pass with a traced one (the traced
    // CLI pass, then the cuts), so the two CLI passes sit next to each other
    // on the JIT warm-up and their ratio is the tracing overhead
    val t0 = now()
    do {
      untracedPass()
      if (trace) layers += tracedPass()
    } while (secs(t0) < seconds || walls.size < (if (trace) 1 else MinPasses))
    rec.put("wall_s", list(walls))
    if (trace) rec.put("layers", layers.asJava)
    rec.put("outputs", outputs.asJava)
  }

  /** Row counts behind the sources/functions layer metrics (untimed). */
  private def layerCounts(spark: SparkSession, in: String, kept: DataFrame, parsed: DataFrame,
                          meta: DataFrame): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("files_listed", spark.read.format("binaryFile").option("recursiveFileLookup", "true")
      .load(in).select("path").count())
    m.put("files_kept", kept.count())
    m.put("parse_failures", parsed.filter(col("wav.sampling_rate") === 0).count())
    // which priority level resolves each kept file (whole-row priority:
    // relative path, then file name, then file name keyed by relative path)
    val byRel = Metadata.firstWins(meta, "relative_path").select(col("relative_path").as("k1"))
    val byName = Metadata.firstWins(meta, "file_name").select(col("file_name").as("k"))
    val f = kept.select("relative_path", "file_name")
      .join(byRel, col("relative_path") === col("k1"), "left")
      .join(byName.select(col("k").as("k2")), col("file_name") === col("k2"), "left")
      .join(byName.select(col("k").as("k3")), col("relative_path") === col("k3"), "left")
    val r = f.agg(
      count(when(col("k1").isNotNull, 1)),
      count(when(col("k1").isNull && col("k2").isNotNull, 1)),
      count(when(col("k1").isNull && col("k2").isNull && col("k3").isNotNull, 1))).head()
    m.put("meta_hits_l1", r.getLong(0)); m.put("meta_hits_l2", r.getLong(1))
    m.put("meta_hits_l3", r.getLong(2))
    m
  }

  // ---- query_hot: registry entries under the shared engine config ---------

  private def queryHot(cfg: com.fasterxml.jackson.databind.JsonNode, started: Long,
                       rec: JMap[String, Any]): Unit = {
    val cores = cfg.get("cores").asText()
    val dir = cfg.get("tables").asText()
    val entries = cfg.get("entries").elements().asScala.map(_.asText()).toSeq
    val seconds = cfg.get("seconds").asDouble()
    val trace = cfg.get("trace").asBoolean()
    val registry = SparkEntry.queries
    val spark = GraftSession.builder(cores, cores).getOrCreate()

    // every execution writes its result for the oracle comparison; set-up
    // ends after the warm-up passes
    val results = cfg.get("results").asText()
    val failures = new JMap[String, Any]()
    var passNo = 0
    def pass(traced: Boolean): (Map[String, Double], Double) = {
      val tag = s"pass$passNo"
      passNo += 1
      val t0 = now()
      val times = entries.map { e =>
        if (traced) { Trace.scope = e; Trace.on = true }
        val s = timed {
          try registry(e)(spark, dir).write.mode("overwrite").parquet(s"$results/$tag/$e")
          catch { case t: Throwable => failures.put(s"$tag/$e", t.toString) }
        }
        if (traced) { PerfbenchBus.drain(spark.sparkContext); Trace.on = false }
        e -> s
      }.toMap
      (times, secs(t0))
    }
    rec.put("warm_s", list(Seq.fill(cfg.get("warm_passes").asInt())(pass(traced = false)._2)))
    rec.put("setup_s", (System.currentTimeMillis() - started) / 1e3)
    def perEntry(ps: Seq[(Map[String, Double], Double)]): JMap[String, Any] =
      new JMap[String, Any](entries.map(e => e -> (list(ps.map(_._1(e))): Any)).toMap.asJava)

    // a traced run alternates untraced and traced passes (see ingest)
    val plainPasses, tracedPasses = ArrayBuffer.empty[(Map[String, Double], Double)]
    val t0 = now()
    do {
      plainPasses += pass(traced = false)
      if (trace) tracedPasses += pass(traced = true)
    } while (secs(t0) < seconds)
    rec.put("wall_s", list(plainPasses.map(_._2)))
    rec.put("entries", perEntry(plainPasses.toSeq))
    if (trace) {
      rec.put("traced_wall_s", list(tracedPasses.map(_._2)))
      rec.put("traced_entries", perEntry(tracedPasses.toSeq))
      val eng = new JMap[String, Any]()
      entries.foreach(e => eng.put(e, counters(Trace(e), tracedPasses.map(_._1(e)).sum)))
      rec.put("engine", eng)
      rec.put("traced_passes", tracedPasses.size)
    }
    rec.put("passes", passNo)
    rec.put("failures", failures)
    val oracle = SparkEntry.oracleSql
    rec.put("oracle_sql", new JMap[String, Any](
      entries.flatMap(e => oracle.get(e).map(e -> (_: Any))).toMap.asJava))
    spark.stop()
  }
}
