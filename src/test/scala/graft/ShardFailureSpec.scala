package graft

import graft.functions.{Tar, Wav}
import graft.sinks.{DuckDbShardSink, ParquetShardSink, ShardWriter, TarShardSink}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.Assertions

/** A sink task that fails inside shard 1 publishes shard 0 whole and leaves
  * no `1.*` file: neither a partial one (a footer written over a part
  * shard, a committed part `.duckdb`, a finished part tar) nor the stale
  * `1.*` of an earlier run, and no local temp. The row iterator throws on
  * shard 1's second row, as a task does when a row fails upstream. */
class ShardFailureSpec extends SparkSpec {

  private val audioType = StructType(Seq(
    StructField("bytes", BinaryType), StructField("sampling_rate", IntegerType),
    StructField("path", StringType)))
  private val rowType = StructType(Seq(
    StructField("audio", audioType), StructField("duration", DoubleType),
    StructField("shard_id", IntegerType)))
  private val wav = Wav.synthWav(8000, 800)

  /** Rows of shard 0 (three) and shard 1 (one), then a throwing row. */
  private def failingRows[R](row: (Int, Int) => R): Iterator[R] =
    Iterator((0, 0), (1, 0), (2, 0), (3, 1)).map { case (i, s) => row(i, s) } ++
      Iterator.continually[R](throw new IllegalStateException("injected row failure"))

  private def audioRow(i: Int, shard: Int): Row = new GenericRowWithSchema(Array(
    new GenericRowWithSchema(Array(wav, 8000, s"f$i.wav"), audioType), 0.1, shard), rowType)

  /** Runs `writer` over [[failingRows]] into a fresh dir holding a stale
    * `1.<ext>`, checks the failure surfaced, and returns the dir. */
  private def failIn[R](ext: String, writer: String => ShardWriter[R], row: (Int, Int) => R,
                        shardOf: R => Int): java.io.File = {
    val out = tmpDir(s"graft-fail-$ext")
    writeText(out, s"1.$ext", "left by an earlier run")
    val e = intercept[IllegalStateException](
      writer(out.getAbsolutePath).writeAll(failingRows(row), shardOf))
    assert(e.getMessage == "injected row failure")
    assert(out.list().toSeq.filter(_.startsWith("1")).isEmpty,
      s"shard 1 left behind: ${out.list().toSeq}")
    out
  }

  test("parquet: a failed shard leaves no file, earlier shards stay whole") {
    // the session first: the writer generates code, and code generated
    // before the session exists fixes the JVM's codegen cache at its
    // default size (see CodegenReuseSpec)
    spark.sparkContext
    val schema = StructType(Seq(StructField("name", StringType), StructField("n", IntegerType)))
    val out = failIn[InternalRow]("parquet",
      ParquetShardSink.shardWriter(_, schema, ParquetShardSink.codec("snappy"), Map.empty, "UTC"),
      (i, s) => InternalRow(UTF8String.fromString(s"r$i"), i, s), _.getInt(2))
    assert(out.list().toSeq == Seq("0.parquet"))
    assert(spark.read.parquet(new java.io.File(out, "0.parquet").getPath)
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq ==
      Seq(("r0", 0), ("r1", 1), ("r2", 2)))
  }

  test("tar: a failed shard leaves no file, earlier shards stay whole") {
    val out = failIn[Row]("tar", TarShardSink.shardWriter(_, Seq.empty), audioRow,
      _.getAs[Int]("shard_id"))
    assert(out.list().toSeq == Seq("0.tar"))
    val entries = Tar.entries(java.nio.file.Files.readAllBytes(
      new java.io.File(out, "0.tar").toPath))
    assert(entries.map(_.map(_.name)).contains(Seq(
      "000000.wav", "000000.json", "000001.wav", "000001.json", "000002.wav", "000002.json")))
  }

  test("duckdb: a failed shard leaves no file and no local temp") {
    try Class.forName("org.duckdb.DuckDBDriver")
    catch { case _: ClassNotFoundException =>
      Assertions.cancel("duckdb_jdbc not on test classpath")
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def temps() = tmp.list().toSeq.filter(_.startsWith("graft-shard-1-")).toSet
    val tempsBefore = temps()
    val ddl = Seq(DuckDbShardSink.createSequenceSql, DuckDbShardSink.createTableSql(Seq.empty))
    val out = failIn[Row]("duckdb",
      DuckDbShardSink.shardWriter(_, ddl, DuckDbShardSink.insertSql(Seq.empty), Seq.empty),
      audioRow, r => r.getInt(r.length - 1))
    assert(out.list().toSeq == Seq("0.duckdb"))
    assert(temps() == tempsBefore, "the failed shard's local temp was left behind")
    val conn = java.sql.DriverManager.getConnection(
      s"jdbc:duckdb:${new java.io.File(out, "0.duckdb").getAbsolutePath}")
    try {
      val rs = conn.createStatement().executeQuery("SELECT count(*) FROM files")
      rs.next()
      assert(rs.getLong(1) == 3)
    } finally conn.close()
  }
}
