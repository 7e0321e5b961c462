package graft.operators

import graft.functions.{TopK, VectorExpressions}
import graft.plans.DriverSide
import graft.sources.ParquetFiles
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** [[AnnIndex.queryIvfPqIndex]] answered in the driver when the rows it
  * needs fit [[DriverSide]]'s cutoff.
  *
  * A small index is cheap to score and dear to plan: the Spark plan pays
  * a schema-inference job per relation it opens and a dozen more jobs to
  * probe, join and rank, whatever the index size. Here the coarse
  * quantizer — centroids, supers, codebook and tombstones — ships in one
  * collect; each query picks its probes in-process; then only the probed
  * lists' codes ship, in a second collect; scoring and ranking run on
  * the driver. Footer row counts, read through the raw filesystem,
  * decide before any row ships, and a schema read from the same footers
  * spares every read its inference job.
  *
  * The answer equals the Spark plan's row for row: the same kernels
  * ([[VectorExpressions.cosine]], [[VectorExpressions.subL2SqFp6]]),
  * doubles ordered as Spark orders them (NaN greatest, −0.0 = 0.0) with
  * ties to the smallest id, the same [[TopK.Buffer]], and
  * [[Similarity.rankTopK]]'s output columns and rounding applied by the
  * same expressions over a local relation. Inputs the plan treats in
  * ways not mirrored here — non-integral ids, repeated query or centroid
  * ids, nulls inside the quantizer, footers Spark did not write — leave
  * the call to the plan. */
private[operators] object IvfPqOnDriver {

  /** The answer as a local relation, or None when the Spark plan must
    * answer. Touches no file the plan would not read. */
  def serve(queries: DataFrame, path: String, dsub: Int, k: Int, nProbe: Int,
      twoLevel: Boolean, idCol: String, vecCol: String): Option[DataFrame] = {
    val spark = queries.sparkSession
    val qField = queries.schema.find(_.name == idCol).orNull
    if (qField == null || !hasFields(queries.schema, Seq(idCol), Some(vecCol))) return None
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    for {
      q <- loadQuantizer(spark, fs, path, twoLevel)
      qs <- loadQueries(queries, idCol, vecCol)
      probes = qs.map(qv => probesOf(q, qv.vec, nProbe, twoLevel))
      lists <- loadLists(fs, path, probes.flatten.toSet, q.rows)
      if workFits(probes, lists)
    } yield {
      val codes = loadCodes(spark, lists, q.codeIndex)
      val out = new java.util.ArrayList[Row]()
      qs.zip(probes).foreach { case (qv, cids) =>
        val top = new TopK.Buffer(k)
        score(q, codes, qv, cids, dsub, top)
        top.sorted.zipWithIndex.foreach { case ((nid, s), r) =>
          out.add(Row(qv.idValue, nid, r + 1, s))
        }
      }
      val schema = StructType(Seq(StructField("qid", qField.dataType, qField.nullable),
        StructField("nid", LongType, nullable = false),
        StructField("rank", IntegerType, nullable = false),
        StructField("score", DoubleType, nullable = false)))
      spark.createDataFrame(out, schema)
        .select(col("qid"), col("nid"), col("rank"), round(col("score"), 4).as("score"))
    }
  }

  /** A query: its id as the caller typed it, as a long, and its vector. */
  private final case class Query(idValue: Any, id: Long, vec: ArrayData)

  /** A centroid or super: id and vector. */
  private final case class Cell(id: Long, vec: ArrayData)

  /** The coarse quantizer and the ADC codebook. `cmap` gives each
    * centroid's super (two-level only). The codebook's distinct
    * (j, code) keys are numbered: `codeIndex` maps a key to its number,
    * and `cbByKey(i)` holds every codebook row with key i (the plan's
    * join adds each). `rows` is what was shipped. */
  private final case class Quantizer(cents: Array[Cell], supers: Array[Cell],
      cmap: Map[Long, Long], codeIndex: Map[(Long, Long), Int],
      cbByKey: Array[Array[(Int, ArrayData)]], tombstones: Set[Long], rows: Long)

  /** One probed inverted list, in `codes/` (batch None) or in an
    * unfolded `codes_stream/` batch: its files, footer row count and
    * schema. */
  private final case class ListDir(batch: Option[Long], cid: Long, files: Seq[FileStatus],
      rows: Long, schema: Option[StructType])

  private[operators] def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def vector(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  private def hasFields(s: StructType, ids: Seq[String], vec: Option[String]): Boolean =
    ids.forall(n => s.find(_.name == n).exists(f => integral(f.dataType))) &&
      vec.forall(n => s.find(_.name == n).exists(f => vector(f.dataType)))

  /** A collected vector as doubles (a float widens exactly, as the
    * kernels widen it); None when an element is null. */
  private def toVec(v: scala.collection.Seq[Any]): Option[ArrayData] =
    if (v.exists(_ == null)) None
    else Some(ArrayData.toArrayData(v.iterator.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray))

  /** Spark's order for (similarity, id) candidates: higher similarity
    * first, NaN highest and −0.0 equal to 0.0, then the smaller id. */
  private def before(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(s1, s2)
    c > 0 || (c == 0 && id1 < id2)
  }

  private def nearest(vec: ArrayData, cells: Array[Cell]): Option[Cell] =
    if (cells.isEmpty) None
    else Some(cells.map(c => (VectorExpressions.cosine(vec, false, c.vec, false), c))
      .reduceLeft((a, b) => if (before(b._1, b._2.id, a._1, a._2.id)) b else a)._2)

  /** The quantizer's relations as one relation over their listed files
    * (its `kind` partition value says which), read with the schemas
    * their footers record, in one collect. */
  private def loadQuantizer(spark: SparkSession, fs: FileSystem, path: String,
      twoLevel: Boolean): Option[Quantizer] = {
    val supDir = new Path(s"$path/supers")
    val hasSupers = twoLevel && fs.exists(supDir)
    // (kind, files, id column, j column, vector column)
    val rels = Seq(
      (0, ParquetFiles.dataFiles(fs, new Path(s"$path/centroids")), "cid", None, Some("cvec")),
      (1, if (hasSupers) ParquetFiles.dataFiles(fs, supDir) else Nil, "sid", None, Some("svec")),
      (2, ParquetFiles.dataFiles(fs, new Path(s"$path/codebook")), "code", Some("j"), Some("cvec")),
      (3, ParquetFiles.dataFiles(fs, new Path(s"$path/_tombstones")), "id", None, None))
    // a relation the plan reads must have a file to infer its schema from
    if (rels.exists { case (kind, files, _, _, _) =>
        files.isEmpty && (kind == 0 || kind == 2 || (kind == 1 && hasSupers)) })
      return None
    val present = rels.filter(_._2.nonEmpty)
    val footers = present.map(r => ParquetFiles.rowsAndSchema(fs, r._2))
    if (footers.exists(_.forall(_._2.isEmpty))) return None
    val schemas = footers.map(_.get._2.get)
    if (!present.zip(schemas).forall { case ((_, _, id, j, v), s) => hasFields(s, id +: j.toSeq, v) })
      return None
    // the columns read, each of one type wherever it appears
    val fields = present.zip(schemas).flatMap { case ((_, _, id, j, v), s) =>
      (id +: (j.toSeq ++ v.toSeq)).map(n => s(n))
    }.distinct
    if (fields.map(_.name).distinct.size != fields.size) return None
    val rows = footers.map(_.get._1).sum
    if (!DriverSide.fits(rows)) return None
    def c(name: String) = if (fields.exists(_.name == name)) col(name) else lit(null)
    val kind = col("kind")
    val got = ParquetFiles.relation(spark, StructType(fields),
        StructType(Seq(StructField("kind", IntegerType))),
        present.map { case (k, files, _, _, _) => (Seq(k), files) })
      .select(kind,
        when(kind === 0, c("cid")).when(kind === 1, c("sid")).when(kind === 2, c("code"))
          .otherwise(c("id")).cast("long"),
        c("j").cast("long"),
        when(kind === 1, c("svec")).otherwise(c("cvec")).cast("array<double>"))
      .collect()
    def cells(kind: Int): Option[Array[Cell]] = {
      val rs = got.filter(_.getInt(0) == kind)
      if (rs.exists(r => r.isNullAt(1) || r.isNullAt(3))) None
      else {
        val cs = rs.map(r => toVec(r.getSeq[Any](3)).map(Cell(r.getLong(1), _)))
        if (cs.exists(_.isEmpty) || cs.map(_.get.id).distinct.length != cs.length) None
        else Some(cs.map(_.get).sortBy(_.id))
      }
    }
    val cbRows = got.filter(_.getInt(0) == 2)
    if (cbRows.exists(r => r.isNullAt(1) || r.isNullAt(2) || r.isNullAt(3))) return None
    val cb = cbRows.map(r => ((r.getLong(2), r.getLong(1)), toVec(r.getSeq[Any](3))))
    if (cb.exists(_._2.isEmpty)) return None
    val keys = cb.map(_._1).distinct
    val codeIndex = keys.zipWithIndex.toMap
    val cbByKey = Array.fill(keys.length)(mutable.ArrayBuffer.empty[(Int, ArrayData)])
    cb.foreach { case (key @ (j, _), v) => cbByKey(codeIndex(key)) += ((j.toInt, v.get)) }
    val tombstones = got.filter(r => r.getInt(0) == 3 && !r.isNullAt(1)).map(_.getLong(1)).toSet
    for {
      cents <- cells(0)
      supers0 <- cells(1)
    } yield {
      val supers =
        if (!twoLevel || hasSupers) supers0
        else {
          // a root without `supers/`: every ⌈√nlist⌉-th centroid in cid
          // order, as Similarity.superStructure derives them
          val smod = math.max(1L, math.ceil(math.sqrt(cents.length.toDouble)).toLong)
          cents.zipWithIndex.collect { case (c, i) if i % smod == 0 => c }
        }
      val cmap =
        if (!twoLevel) Map.empty[Long, Long]
        else cents.flatMap(c => nearest(c.vec, supers).map(s => c.id -> s.id)).toMap
      Quantizer(cents, supers, cmap, codeIndex, cbByKey.map(_.toArray), tombstones, rows)
    }
  }

  /** The queries' rows; None when a non-null id repeats. Rows with a
    * null id or vector are dropped: the plan returns nothing for them. */
  private def loadQueries(queries: DataFrame, idCol: String, vecCol: String): Option[Array[Query]] = {
    val qs = queries.select(col(idCol), col(vecCol)).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val parsed = qs.map(r => toVec(r.getSeq[Any](1)).map(v =>
      Query(r.get(0), r.get(0).asInstanceOf[Number].longValue(), v)))
    if (parsed.exists(_.isEmpty) || parsed.map(_.get.id).distinct.length != parsed.length) None
    else Some(parsed.map(_.get))
  }

  /** A query's probed lists, as Similarity.queryProbes (flat) or
    * queryProbesTwoLevel choose them: the `nProbe` nearest centroids, of
    * all of them or of its nearest super's members. */
  private def probesOf(q: Quantizer, vec: ArrayData, nProbe: Int, twoLevel: Boolean): Seq[Long] = {
    val candidates =
      if (!twoLevel) q.cents
      else nearest(vec, q.supers).fold(Array.empty[Cell])(s =>
        q.cents.filter(c => q.cmap.get(c.id).contains(s.id)))
    candidates.map(c => (VectorExpressions.cosine(vec, false, c.vec, false), c.id))
      .sortWith { case ((s1, i1), (s2, i2)) => before(s1, i1, s2, i2) }
      .take(nProbe).map(_._2).toSeq
  }

  /** The probed lists' directories — in `codes/` and in every unfolded
    * `codes_stream/` batch — with their footer row counts; None when the
    * quantizer plus these rows pass the cutoff, or their footers do not
    * give one Spark schema with integral nid, j and code. */
  private def loadLists(fs: FileSystem, path: String,
      probed: Set[Long], quantizerRows: Long): Option[Seq[ListDir]] = {
    val codes = new Path(s"$path/codes")
    if (!fs.exists(codes)) return None
    def cidDirs(base: Path): Seq[(Long, Path)] = ParquetFiles.children(fs, base).flatMap { st =>
      val n = st.getPath.getName
      if (!st.isDirectory || !n.startsWith("cid=")) None
      else n.stripPrefix("cid=").toLongOption.filter(probed).map(_ -> st.getPath)
    }
    val folded = AnnIndex.foldedBatchIds(fs, codes.toString)
    val batches = ParquetFiles.children(fs, new Path(s"$path/codes_stream")).flatMap { st =>
      val n = st.getPath.getName
      if (!st.isDirectory || !n.startsWith("ingest_batch=")) None
      else n.stripPrefix("ingest_batch=").toLongOption.filterNot(folded).map(_ -> st.getPath)
    }
    val dirs = cidDirs(codes).map { case (c, d) => (None, c, d) } ++
      batches.flatMap { case (b, bd) => cidDirs(bd).map { case (c, d) => (Some(b), c, d) } }
    val lists = dirs.map { case (b, c, d) =>
      val files = ParquetFiles.dataFiles(fs, d)
      ParquetFiles.rowsAndSchema(fs, files).map { case (n, s) => ListDir(b, c, files, n, s) }
    }
    if (lists.exists(_.isEmpty)) return None
    val got = lists.map(_.get).filter(_.rows > 0)
    val schemas = got.map(_.schema).distinct
    val oneSchema = schemas.size <= 1 &&
      schemas.forall(_.exists(hasFields(_, Seq("nid", "j", "code"), None)))
    if (oneSchema && DriverSide.fits(quantizerRows + got.map(_.rows).sum)) Some(got)
    else None
  }

  /** The driver's scoring work — code rows visited over all queries —
    * within the cutoff on what a driver-side evaluation may produce. */
  private def workFits(probes: Seq[Seq[Long]], lists: Seq[ListDir]): Boolean = {
    val rowsOf = lists.groupMapReduce(_.cid)(_.rows)(_ + _)
    DriverSide.fitsOutput(probes.map(_.map(rowsOf.getOrElse(_, 0L)).sum).sum)
  }

  /** The probed lists' code rows as (nid, codebook key number) by cid,
    * one map per relation present (`codes/`, then `codes_stream/` over
    * its unfolded batches) — one collect. Rows whose (j, code) is not in
    * the codebook, or with a null, are dropped: the plan's joins drop
    * them too. */
  private def loadCodes(spark: SparkSession, lists: Seq[ListDir],
      codeIndex: Map[(Long, Long), Int]): Seq[Map[Long, Array[(Long, Int)]]] = {
    if (lists.isEmpty) return Nil
    val rows = ParquetFiles.relation(spark, lists.head.schema.get,
        StructType(Seq(StructField("batch", LongType), StructField("cid", LongType))),
        lists.map(l => (Seq(l.batch.getOrElse(null), l.cid), l.files)))
      .select(col("batch").isNotNull, col("cid"), col("nid").cast("long"),
        col("j").cast("long"), col("code").cast("long"))
      .collect()
      .filter(r => !r.isNullAt(2) && !r.isNullAt(3) && !r.isNullAt(4))
      .flatMap(r => codeIndex.get((r.getLong(3), r.getLong(4)))
        .map(i => (r.getBoolean(0), r.getLong(1), (r.getLong(2), i))))
    rows.groupBy(_._1).values.map(_.groupMap(_._2)(_._3)).toSeq
  }

  /** Scores one query's candidates into `top`: per relation, each
    * vector's ADC sum over its rows in the probed lists, the query itself
    * and tombstoned vectors left out. The plan scores `codes/` and
    * `codes_stream/` as separate branches and ranks their union, so a
    * vector in both enters twice; so it does here. */
  private def score(q: Quantizer, codes: Seq[Map[Long, Array[(Long, Int)]]],
      qv: Query, cids: Seq[Long], dsub: Int, top: TopK.Buffer): Unit = {
    val table = q.cbByKey.map(_.iterator.map { case (j, v) =>
      VectorExpressions.subL2SqFp6(qv.vec, false, v, false, j * dsub, dsub)
    }.sum)
    codes.foreach { rel =>
      val sums = mutable.LongMap.empty[Long]
      cids.foreach(cid => rel.getOrElse(cid, Array.empty[(Long, Int)]).foreach { case (nid, key) =>
        if (nid != qv.id) sums(nid) = sums.getOrElse(nid, 0L) + table(key)
      })
      sums.foreach { case (nid, adist) =>
        if (!q.tombstones(nid)) top.insert(nid, (-adist).toDouble)
      }
    }
  }
}
