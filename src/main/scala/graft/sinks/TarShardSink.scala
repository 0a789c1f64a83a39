package graft.sinks

import graft.functions.Tar
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** K3 (engine extension) — WebDataset tar shard writer: one shard = one
  * task = one `outDir/{shard_id}.tar`, each record two co-sampled members
  * `{ordinal}.wav` (the raw audio bytes) + `{ordinal}.json` (path,
  * duration, sampling_rate, and every metadata column), ordinals
  * zero-padded per WebDataset convention. The archives are plain ustar
  * ([[graft.functions.Tar]], stock-`tar`-conformant, spec-pinned), so the
  * output loads directly into WebDataset-style training loaders — the
  * export format modern multimodal training stacks consume.
  *
  * Scale shape mirrors [[ParquetShardSink]]: no driver loop, shards stream
  * through executor tasks (entries are written streaming — a shard never
  * buffers its archive), X4 overwrite semantics, fail-loud row errors.
  */
object TarShardSink {

  /** Write `df` (columns `audio(bytes, sampling_rate, path), duration,
    * <meta...>, shard_id`) as `outDir/{shard_id}.tar`. */
  def writeShards(
      df: DataFrame,
      outDir: String,
      metaKeys: Seq[String],
      orderCols: Seq[String] = Seq.empty,
      numShards: Option[Int] = None): Unit = {
    val nShards = numShards.getOrElse(math.max(1,
      df.agg(max(col("shard_id"))).head.getInt(0) + 1))
    val sortCols = col("shard_id") +: orderCols.map(col)
    val arranged = df
      .repartition(nShards, col("shard_id"))
      .sortWithinPartitions(sortCols: _*)
    val keys = metaKeys.toIndexedSeq
    arranged.foreachPartition { rows: Iterator[Row] =>
      shardWriter(outDir, keys).writeAll(rows, _.getAs[Int]("shard_id"))
    }
  }

  /** The task side of [[writeShards]]. */
  private[graft] def shardWriter(outDir: String, keys: Seq[String]): ShardWriter[Row] = {
    val conf = new Configuration()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    new ShardWriter[Row] {
      private var path: HPath = null
      private var out: java.io.OutputStream = null
      private var ordinal = 0
      protected def open(shard: Int): Unit = {
        path = new HPath(s"$outDir/$shard.tar")
        val fs = path.getFileSystem(conf)
        fs.setWriteChecksum(false)
        if (fs.exists(path)) fs.delete(path, false) // X4 overwrite
        out = fs.create(path, true)
        ordinal = 0
      }
      protected def write(row: Row): Unit = {
        val audio = row.getAs[Row]("audio")
        val node = mapper.createObjectNode()
        node.put("path", audio.getAs[String]("path"))
        node.put("duration", row.getAs[Double]("duration"))
        node.put("sampling_rate", audio.getAs[Int]("sampling_rate"))
        keys.foreach { k =>
          row.getAs[Any](k) match {
            case null => node.putNull(k)
            case s: String => node.put(k, s)
            case b: Boolean => node.put(k, b)
            case d: Double => node.put(k, d)
            case l: Long => node.put(k, l)
            case i: Int => node.put(k, i)
            case seq: scala.collection.Seq[_] =>
              val arr = node.putArray(k)
              seq.foreach {
                case s: String => arr.add(s)
                case b: Boolean => arr.add(b)
                case d: Double => arr.add(d)
                case l: Long => arr.add(l)
                case i: Int => arr.add(i)
                case other => arr.add(String.valueOf(other))
              }
            case other => node.put(k, other.toString)
          }
        }
        val key = f"$ordinal%06d"
        Tar.writeEntryTo(out, Tar.Entry(s"$key.wav", audio.getAs[Array[Byte]]("bytes")))
        Tar.writeEntryTo(out,
          Tar.Entry(s"$key.json", mapper.writeValueAsBytes(node)))
        ordinal += 1
      }
      protected def publish(): Unit = {
        Tar.finishTo(out); out.close(); out = null; path = null
      }
      protected def discard(): Unit = if (path != null)
        try if (out != null) out.close()
        finally path.getFileSystem(conf).delete(path, false)
    }
  }
}
