package graft.sinks

import graft.core.{MBool, MFloat64, MList, MString, MetadataType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** K2 — DuckDB shard writer (reference: src/main.rs:388-436, 797-847).
  *
  * Mirrored semantics:
  *   - DDL: `CREATE SEQUENCE seq; CREATE TABLE files (id INTEGER PRIMARY KEY
  *     DEFAULT NEXTVAL('seq'), duration DOUBLE, audio STRUCT(path VARCHAR,
  *     sampling_rate INTEGER, bytes BLOB), "<key>" <type> ...)` — audio field
  *     order path-first, DIFFERENT from the Parquet sink (src/main.rs:395);
  *   - metadata types: Bool→BOOLEAN, Float64→DOUBLE, String→VARCHAR,
  *     List(_)→VARCHAR holding JSON text (src/main.rs:406, 835-837);
  *   - `id` bound explicitly to the 0-based in-shard row index (src/main.rs:807-809);
  *   - one prepared INSERT with `row(?,?,?)` for audio (src/main.rs:428), one
  *     transaction per shard (src/main.rs:803-843);
  *   - per-row insert errors silently ignored (src/main.rs:841).
  *
  * The embedded single-writer model is a natural fit for one-file-per-task:
  * each executor task builds `{shard}.duckdb` on local disk, then moves it to
  * `outDir`. The JDBC driver (`org.duckdb.DuckDBDriver`) is loaded
  * reflectively so the library compiles and the SQL generation is testable
  * without DuckDB on the classpath; at runtime the caller ships duckdb_jdbc
  * alongside the app jar.
  */
object DuckDbShardSink {

  def duckType(t: MetadataType): String = t match {
    case MBool    => "BOOLEAN"
    case MFloat64 => "DOUBLE"
    case MString  => "VARCHAR"
    case MList(_) => "VARCHAR" // JSON text downgrade
  }

  /** reference: build_create_table_sql, src/main.rs:388-416. */
  def createTableSql(metaTypes: Seq[(String, MetadataType)]): String = {
    val metaCols = metaTypes.map { case (k, t) =>
      s""""${MetadataType.sanitizeColumnName(k)}" ${duckType(t)}"""
    }
    (Seq(
      "id INTEGER PRIMARY KEY DEFAULT NEXTVAL('seq')",
      "duration DOUBLE",
      "audio STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB)",
    ) ++ metaCols).mkString("CREATE TABLE files (", ", ", ")")
  }

  val createSequenceSql = "CREATE SEQUENCE seq"

  /** reference: build_insert_sql, src/main.rs:418-436. */
  def insertSql(metaTypes: Seq[(String, MetadataType)]): String = {
    val metaNames = metaTypes.map { case (k, _) => s""""${MetadataType.sanitizeColumnName(k)}"""" }
    val cols = (Seq("id", "duration", "audio") ++ metaNames).mkString(", ")
    val params = (Seq("?", "?", "row(?, ?, ?)") ++ metaTypes.map(_ => "?")).mkString(", ")
    s"INSERT INTO files ($cols) VALUES ($params)"
  }

  /** Write one `{shard_id}.duckdb` per shard. `df` must have columns
    * `audio struct<bytes,sampling_rate,path>, duration, <meta...>, shard_id`.
    */
  def writeShards(
      df: DataFrame,
      outDir: String,
      metaTypes: Seq[(String, MetadataType)],
      orderCols: Seq[String] = Seq.empty,
      numShards: Option[Int] = None): Unit = {
    val ddl = Seq(createSequenceSql, createTableSql(metaTypes))
    val ins = insertSql(metaTypes)
    val metaNames = metaTypes.map(_._1)
    val metaKinds = metaTypes.map(_._2)
    val nShards = numShards.getOrElse(
      math.max(1, df.agg(max(col("shard_id"))).head().getInt(0) + 1))
    val sortCols = (Seq("shard_id") ++ (if (orderCols.isEmpty) Seq("audio.path") else orderCols)).map(col)
    val arranged = df
      .select((Seq(col("audio"), col("duration")) ++ metaNames.map(col) :+ col("shard_id")): _*)
      .repartition(nShards, col("shard_id"))
      .sortWithinPartitions(sortCols: _*)

    arranged.foreachPartition { rows: Iterator[Row] =>
      shardWriter(outDir, ddl, ins, metaKinds).writeAll(rows, r => r.getInt(r.length - 1))
    }
  }

  /** The task side of [[writeShards]]: each shard is built in a local temp
    * file and copied to `outDir` only once its last row is committed. */
  private[graft] def shardWriter(
      outDir: String,
      ddl: Seq[String],
      ins: String,
      metaKinds: Seq[MetadataType]): ShardWriter[Row] = {
    Class.forName("org.duckdb.DuckDBDriver")
    // Jackson for list→JSON text: full escaping (control chars included),
    // matching the reference's serde_json Value::to_string (src/main.rs:835-837)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val conf = new Configuration()
    new ShardWriter[Row] {
      private var conn: java.sql.Connection = null
      private var stmt: java.sql.PreparedStatement = null
      private var currentShard = Int.MinValue
      private var localPath: java.io.File = null
      private var rowIdx = 0
      protected def open(shard: Int): Unit = {
        currentShard = shard
        localPath = java.io.File.createTempFile(s"graft-shard-$shard-", ".duckdb")
        localPath.delete()
        conn = java.sql.DriverManager.getConnection(s"jdbc:duckdb:${localPath.getAbsolutePath}")
        conn.setAutoCommit(false) // one txn per shard
        val s = conn.createStatement()
        ddl.foreach(s.execute); s.close()
        stmt = conn.prepareStatement(ins)
        rowIdx = 0
      }
      protected def write(row: Row): Unit = {
        try {
          val audio = row.getStruct(0)
          stmt.setInt(1, rowIdx) // in-shard 0-based index
          stmt.setDouble(2, row.getDouble(1))
          stmt.setString(3, audio.getAs[String]("path"))
          stmt.setInt(4, audio.getAs[Int]("sampling_rate"))
          stmt.setBytes(5, audio.getAs[Array[Byte]]("bytes"))
          metaKinds.zipWithIndex.foreach { case (t, i) =>
            val v = row.get(2 + i)
            val pos = 6 + i
            (t, v) match {
              case (_, null)            => stmt.setObject(pos, null)
              case (MBool, b: Boolean)  => stmt.setBoolean(pos, b)
              case (MFloat64, d: Double) => stmt.setDouble(pos, d)
              case (MList(_), seq: scala.collection.Seq[_]) =>
                import scala.jdk.CollectionConverters._
                stmt.setString(pos, mapper.writeValueAsString(seq.asJava))
              case (_, x)               => stmt.setString(pos, x.toString)
            }
          }
          stmt.executeUpdate()
        } catch { case _: java.sql.SQLException => /* src/main.rs:841 */ }
        rowIdx += 1
      }
      private def dest = new HPath(s"$outDir/$currentShard.duckdb")
      protected def publish(): Unit = {
        stmt.close(); conn.commit(); conn.close()
        conn = null; stmt = null
        val fs = dest.getFileSystem(conf)
        fs.setWriteChecksum(false)
        if (fs.exists(dest)) fs.delete(dest, false)
        fs.copyFromLocalFile(true, true, new HPath(localPath.getAbsolutePath), dest)
        localPath = null
      }
      /** Closes without committing (a rollback), deletes the local temp, and
        * deletes `{shard}.duckdb` in `outDir` — a part-copied one, or one
        * an earlier run left that this task was to replace (X4). */
      protected def discard(): Unit = if (localPath != null)
        try if (conn != null) conn.close()
        finally {
          localPath.delete()
          dest.getFileSystem(conf).delete(dest, false)
        }
    }
  }
}
