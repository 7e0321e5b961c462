package graft.sources

import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** File-level reads of a parquet layout that need no Spark job —
  * listings and footers — and relations over files already listed.
  *
  * Both go through the raw filesystem under Hadoop's checksum layer. On
  * the local filesystem a recursive `FileSystem.listFiles` builds a
  * `LocatedFileStatus` per file, which loads the file's owner and
  * permissions by running a shell command: about 4 ms a file, against
  * well under 0.1 ms for a raw `listStatus` entry. A footer read through
  * the raw filesystem is the tail 8 bytes (footer length and magic), the
  * footer and one thrift parse; the footer length and magic check the
  * bytes the skipped checksums would have.
  */
object ParquetFiles {

  /** `fs` without its checksum layer, if it has one. */
  def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** True for a file or directory name a Spark read skips: hidden and
    * underscore sidecars (`_SUCCESS`, `_temporary`, `.crc` checksums),
    * while `_`-prefixed partition directories (`_x=1`) stay visible. */
  def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The direct children of `dir` (empty when it does not exist), minus
    * the checksum files the checksum layer hides. */
  def children(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val r = raw(fs)
    if (!r.exists(dir)) Nil else list(r, dir)
  }

  /** Every file under `root`, at any depth, as `fs.listFiles(root, true)`
    * lists them (and, like it, failing when `root` does not exist),
    * walked with `listStatus` on the raw filesystem. */
  def walk(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val r = raw(fs)
    val out = Seq.newBuilder[FileStatus]
    def go(dir: Path): Unit = list(r, dir).foreach { st =>
      if (st.isDirectory) go(st.getPath) else out += st
    }
    go(root)
    out.result()
  }

  private def list(raw: FileSystem, dir: Path): Seq[FileStatus] =
    raw.listStatus(dir).toSeq.filterNot(st => isChecksum(st.getPath.getName))

  /** The data files of one parquet directory as a Spark read sees them:
    * the visible files directly under it. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    children(fs, dir).filter(st => st.isFile && !hidden(st.getPath.getName))

  /** The thrift footer of the parquet file `f`, read through `raw`. */
  def footer(raw: FileSystem, f: FileStatus): org.apache.parquet.format.FileMetaData = {
    val len = f.getLen
    val in = raw.open(f.getPath)
    try {
      require(len > 12, s"${f.getPath}: too short to be parquet")
      in.seek(len - 8)
      val tail = new Array[Byte](8)
      in.readFully(tail)
      require(tail(4) == 'P' && tail(5) == 'A' && tail(6) == 'R' && tail(7) == '1',
        s"${f.getPath}: bad parquet magic (encrypted footers unsupported here)")
      val fl = (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) |
        ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
      require(fl > 0 && fl <= len - 12, s"${f.getPath}: bad footer length $fl")
      in.seek(len - 8 - fl)
      val fb = new Array[Byte](fl)
      in.readFully(fb)
      org.apache.parquet.format.Util.readFileMetaData(new java.io.ByteArrayInputStream(fb))
    } finally in.close()
  }

  /** The row schema Spark recorded in a footer it wrote (the key its own
    * schema inference reads first), as JSON; None for other writers. */
  def sparkSchemaJson(meta: org.apache.parquet.format.FileMetaData): Option[String] =
    Option(meta.getKey_value_metadata).flatMap { kvs =>
      val it = kvs.iterator()
      var found: Option[String] = None
      while (found.isEmpty && it.hasNext) {
        val kv = it.next()
        if (kv.getKey == SparkSchemaKey) found = Option(kv.getValue)
      }
      found
    }

  /** The files' total row count and the one Spark schema they record,
    * every field nullable (as a Spark read sees a file source); None when
    * a file was not written by Spark or the files' schemas differ in
    * more than nullability. */
  def rowsAndSchema(fs: FileSystem, files: Seq[FileStatus]): Option[(Long, Option[StructType])] = {
    val r = raw(fs)
    val metas = files.map(f => footer(r, f))
    val jsons = metas.map(sparkSchemaJson).distinct
    if (jsons.exists(_.isEmpty)) return None
    val schemas = jsons.flatten.map(j => nullable(DataType.fromJson(j))).distinct
    if (schemas.size > 1) None
    else Some((metas.map(_.getNum_rows).sum, schemas.headOption.map(_.asInstanceOf[StructType])))
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** A parquet relation over files already listed: each group of `parts`
    * carries its values of `partitionSchema` (internal values: Int, Long,
    * null). Making it globs, lists and infers nothing, where a path-based
    * read checks and lists every path and opens a footer to infer a
    * schema. Partition filters prune groups as a path-based read's would. */
  def relation(spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      parts: Seq[(Seq[Any], Seq[FileStatus])]): DataFrame = {
    val dirs = parts.map { case (values, files) =>
      PartitionDirectory(InternalRow.fromSeq(values), files.map(FileStatusWithMetadata(_)))
    }
    val ps = partitionSchema
    val index = new FileIndex {
      def rootPaths: Seq[Path] = parts.flatMap(_._2).map(_.getPath.getParent).distinct
      def listFiles(partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        partitionFilters.reduceOption(And).fold(dirs) { f =>
          val pred = Predicate.createInterpreted(f.transform {
            case a: AttributeReference =>
              BoundReference(ps.fieldIndex(a.name), a.dataType, a.nullable)
          })
          dirs.filter(d => pred.eval(d.values))
        }
      def inputFiles: Array[String] = parts.flatMap(_._2).map(_.getPath.toString).toArray
      def refresh(): Unit = ()
      def sizeInBytes: Long = parts.flatMap(_._2).map(_.getLen).sum
      def partitionSchema: StructType = ps
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema, dataSchema,
      None, new ParquetFileFormat(), Map.empty)(spark))
  }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def isChecksum(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")
}
