package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.net.URI
import scala.jdk.CollectionConverters._

/** CSV → hive-partitioned parquet ingest.
  *
  * Re-expresses the reference's per-file pandas loop (reference:
  * transform.py:8-41, run-example.sh:1-3) as one distributed write over
  * every CSV at once:
  *
  *   - each input CSV holds one stream; the filename (minus extension) is the
  *     stream UUID (reference: transform.py:10-16, README.md:93);
  *   - the header row is `<timeCol>,<label>` — the label (original column
  *     name) becomes the `label` column (reference: transform.py:28,33);
  *   - rows are `(timestamp, value)`; output is sorted by time within each
  *     stream (reference: transform.py:25-26, README.md:70);
  *   - derived columns: `uri = "urn:{collection}/{label}"`, constant
  *     `collection` (reference: transform.py:31-35);
  *   - output layout `collection=<c>/uuid=<u>/...parquet`, `time` stored as
  *     INT64 `TIMESTAMP(MICROS)` with min/max footer stats (reference:
  *     transform.py:39 — `partition_cols=['collection','uuid'],
  *     coerce_timestamps='us'`). Spark's default parquet timestamp is INT96,
  *     which carries no footer statistics, so the write sets the type on a
  *     clone of the caller's session: the caller's conf is left as it was,
  *     and its runtime settings (e.g. the session time zone) still govern
  *     parsing.
  *
  * Scale design: because per-file headers differ (the label IS the header),
  * a naive `spark.read.csv` of all files can't work. We read the files as
  * lines of text with their file path, collect the header lines (one per
  * file), and resolve each file's uuid and label on the driver. The UUID
  * guard is a plain Scala regex there, once per file: kept in the plan as a
  * filter on the header side of the join, Catalyst's constraint inference
  * would copy it through the join key onto every data row. The data lines
  * take collection, label, uri and uuid from a broadcast join against that
  * table, and are written sorted by stream and time within each task. No
  * shuffle is needed because a CSV holds exactly one stream and a file below
  * the split size is read whole by one task, so every stream lands in one
  * time-sorted file with tight footer min/max stats (reference:
  * README.md:25,56). A CSV over the split size is read by several tasks and
  * yields several files, each still time-sorted — the layout
  * `maxRecordsPerFile` produces anyway.
  */
object Ingest {

  private val UuidRe = "([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})\\.[Cc][Ss][Vv]$".r

  /** Transform a directory (or glob) of single-stream CSVs into the
    * partitioned fact table at `dest`, appending to what is there. The
    * store is not listed again afterwards; read it with
    * `spark.read.parquet(dest)`.
    *
    * Files whose basename is not a UUID are skipped, mirroring the
    * reference's guard (transform.py:11-16). A UUID-named file must hold
    * exactly one header row: one without a header, or with two, fails the
    * call with an `IllegalArgumentException` naming the file, before
    * anything is written. Rows whose timestamp or value fails to parse are
    * dropped (the reference would raise; we prefer a clean filter).
    */
  def transform(
      spark: SparkSession,
      collection: String,
      csvPath: String,
      dest: String,
      timeCol: String = "datetime",
      maxRecordsPerFile: Long = 0L): Unit = {

    val session = Bridge.cloneSession(spark)
    session.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val text = session.read.text(csvPath)
    val lines = text.select(col("value"), col("_metadata.file_path").as("_file"))
    val isHeader = col("value").startsWith(timeCol + ",")

    // Header rows: "<timeCol>,<label>" — one per file, so a tiny collect.
    // `_metadata.file_path` and `inputFiles` spell a path differently
    // (`file:/x` vs `file:///x`); both parse to one hadoop Path.
    def key(file: String) = new Path(new URI(file))
    val headers = lines.filter(isHeader).collect().groupBy(r => key(r.getString(1)))
    val streams = text.inputFiles.toSeq.flatMap { file =>
      UuidRe.findFirstMatchIn(file).map { m => // UUID guard (reference: transform.py:11-16)
        val found = headers.getOrElse(key(file), Array.empty[Row])
        require(found.length == 1,
          s"ingest: $file must hold exactly one '$timeCol,<label>' header row, found ${found.length}")
        val Array(Row(line: String, path: String)) = found
        val label = line.substring(timeCol.length + 1)
        (path, collection, label, s"urn:$collection/$label", m.group(1))
      }
    }
    // The partition columns come from this table, non-nullable, so that the
    // sort below satisfies the ordering the partitioned write requires. A
    // literal `collection` is dropped from the sort as foldable, and a
    // nullable `uuid` is wrapped in `empty2null`; either way the planned
    // write would re-sort by (collection, uuid) alone and lose the time order.
    val table = session.createDataFrame(streams.map(Row.fromTuple).asJava, StructType(
      Seq("_file", "collection", "label", "uri", "uuid").map(StructField(_, StringType, nullable = false))))

    val data = lines
      .filter(!isHeader)
      .join(broadcast(table), Seq("_file"))
      .select(
        try_to_timestamp(substring_index(col("value"), ",", 1)).as("time"),
        substring_index(col("value"), ",", -1).try_cast("double").as("value"),
        col("label"),
        col("uri"),
        col("collection"),
        col("uuid"))
      .filter(col("time").isNotNull && col("value").isNotNull)

    // maxRecordsPerFile caps leaf-file size for very long streams — the
    // reference's "partitioned by size but ordered by time" (README.md:25):
    // files split on row count, each still internally time-sorted.
    val writer = data
      .sortWithinPartitions("collection", "uuid", "time")
      .write
      .mode("append")
      .partitionBy("collection", "uuid")
    (if (maxRecordsPerFile > 0)
      writer.option("maxRecordsPerFile", maxRecordsPerFile)
    else writer).parquet(dest)
  }
}
