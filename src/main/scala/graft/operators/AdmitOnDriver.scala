package graft.operators

import graft.functions.{MinHash, MinHashBandKeys}
import graft.plans.DriverSide
import graft.sources.ParquetFiles
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** [[DedupIndex.admitAgainstIndex]] and
  * [[DedupIndex.admitNearDupAgainstIndex]] answered in the driver when
  * the batch, the index, the doc store and their tombstones fit
  * [[DriverSide]]'s cutoff.
  *
  * A daily crawl batch is small, and so is the work of admitting it: a
  * key lookup per doc, then an exact Jaccard over a few candidate pairs.
  * The Spark plans pay a schema-inference job per relation they open and
  * one job per join stage, 9 for exact admission and 25 for near-dup,
  * whatever the sizes. Here footer row counts, read through the raw
  * filesystem, decide before any row ships. The batch's keys come from
  * the plan's own Column expressions: over a local batch the optimizer
  * folds them with no job. Then each relation is read once, filtered to
  * the batch's keys, with the schema its footers record:
  *   - exact: the index rows whose `text_key` is a batch key, with the
  *     index tombstones (one job);
  *   - near-dup: the minhash rows whose band `key` is a batch band key,
  *     with the index tombstones; then the doc-store rows of the
  *     candidate ids, with the store tombstones (two jobs).
  * The decision runs in-process and returns a local relation with the
  * plan's schema.
  *
  * The answer equals the plan's: tombstoned index and store rows are
  * dropped; index or candidate rows whose id is a batch id are ignored
  * (replay safety); keeps are the minimum per key and per family;
  * `dup_corpus` wins over `dup_batch` over `admitted`; intra-batch LSH
  * pairs verify as (later doc, earlier partner); Jaccard runs over
  * distinct shingle-hash sets from [[MinHash.shingleHashes]], the plan's
  * hashing, as `n_inter * 10000 / n_union >= thetaBp` in integer
  * division, and a doc without tokens verifies nothing. Inputs the plan
  * treats in ways not mirrored here go to the plan: non-integral or null
  * ids, repeated batch ids, a store id holding two different texts,
  * partitioned directories and footers Spark did not write.
  *
  * Nothing is cached: in the day-2 loop an append lands between every
  * two admits, so a snapshot would reload on every call. */
private[operators] object AdmitOnDriver {
  import IvfPqOnDriver.integral

  /** A parquet directory as a Spark read sees it: its data files, their
    * footer row count and the one schema they record (None without
    * files). */
  private final case class Dir(files: Seq[FileStatus], rows: Long, schema: Option[StructType])

  /** [[DedupIndex.admitAgainstIndex]]'s answer, or None when its plan
    * must answer. */
  def exact(newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String): Option[DataFrame] = {
    val spark = newDocs.sparkSession
    val fs = new Path(indexPath).getFileSystem(spark.sessionState.newHadoopConf())
    val keyed = newDocs.select(col(idCol),
      md5(concat_ws(" ", TextOps.tokens(col(textCol)))).as("text_key"))
    for {
      index <- dir(fs, new Path(indexPath))
      schema <- index.schema
      if has(schema, "keep_id", integral) && has(schema, "text_key", _ == StringType)
      ts <- tombstones(fs, indexPath)
      batch <- batchRows(keyed, index.rows + ts.rows)
      keepType <- widened(schema("keep_id").dataType, keyed.schema.head.dataType)
    } yield {
      val ids = batch.map(_.getAs[Number](0).longValue())
      val keys = batch.map(_.getString(1))
      val (hits, dead) =
        if (keys.isEmpty) (Array.empty[Row], Set.empty[Long])
        else read(spark, index, col("text_key").isin(keys.distinct.toSeq: _*),
          Seq(col("text_key"), col("keep_id").cast("long")), ts)
      val batchIds = ids.toSet
      val corpusKeep = hits.iterator
        .filter(r => !r.isNullAt(1) && !dead(r.getLong(1)) && !batchIds(r.getLong(1)))
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
        .groupMapReduce(_._1)(_._2)(math.min)
      val batchKeep = keys.zip(ids).groupMapReduce(_._1)(_._2)(math.min)
      val out = batch.indices.map { i =>
        val (status, keep) = corpusKeep.get(keys(i)) match {
          case Some(c) => ("dup_corpus", c)
          case None =>
            val b = batchKeep(keys(i))
            (if (ids(i) != b) "dup_batch" else "admitted", b)
        }
        Row(batch(i).get(0), keys(i), status, typed(keep, keepType))
      }
      spark.createDataFrame(out.asJava, StructType(keyed.schema.fields ++ Seq(
        StructField("status", StringType, nullable = false),
        StructField("keep_id", keepType, nullable = true))))
    }
  }

  /** [[DedupIndex.admitNearDupAgainstIndex]]'s answer, or None when its
    * plan must answer. */
  def nearDup(newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String, docStorePath: String, k: Int, bands: Int,
      shingleN: Int, thetaBp: Long): Option[DataFrame] = {
    val spark = newDocs.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(indexPath).getFileSystem(conf)
    val storeFs = new Path(docStorePath).getFileSystem(conf)
    val toks = TextOps.tokens(col(textCol))
    val keyed = newDocs.select(col(idCol),
      Bridge.column(MinHashBandKeys(Bridge.expression(toks), k, shingleN, bands)).as("bk"),
      toks.as("toks"))
    for {
      index <- dir(fs, new Path(indexPath))
      schema <- index.schema
      if has(schema, "id", integral) && has(schema, "band", integral) &&
        has(schema, "key", _ == LongType)
      its <- tombstones(fs, indexPath)
      store <- dir(storeFs, new Path(docStorePath))
      storeSchema <- store.schema
      if has(storeSchema, idCol, integral) && has(storeSchema, textCol, _ == StringType)
      sts <- tombstones(storeFs, docStorePath)
      batch <- batchRows(keyed, index.rows + its.rows + store.rows + sts.rows)
      keepType <- widened(schema("id").dataType, keyed.schema.head.dataType)
      verdicts <- decideNearDup(spark, batch, index, its, store, sts, idCol, textCol,
        shingleN, thetaBp)
    } yield {
      val out = batch.zip(verdicts).map { case (r, (status, keep)) =>
        Row(r.get(0), status, typed(keep, keepType))
      }
      val idField = keyed.schema.head
      spark.createDataFrame(out.toSeq.asJava, StructType(Seq(idField,
        StructField("status", StringType, nullable = false),
        StructField("keep_id", keepType, nullable = idField.nullable))))
    }
  }

  /** Each batch row's (status, keep id), or None when the candidate pairs
    * pass the output cutoff or a store id holds two different texts. */
  private def decideNearDup(spark: SparkSession, batch: Array[Row], index: Dir,
      its: Dir, store: Dir, sts: Dir, idCol: String, textCol: String,
      shingleN: Int, thetaBp: Long): Option[Array[(String, Long)]] = {
    val ids = batch.map(_.getAs[Number](0).longValue())
    val batchIds = ids.toSet
    // (band, key) → the batch docs with that band key
    val buckets = mutable.HashMap.empty[(Long, Long), mutable.ArrayBuffer[Long]]
    batch.zip(ids).foreach { case (r, id) =>
      if (!r.isNullAt(1)) r.getSeq[Long](1).zipWithIndex.foreach { case (key, band) =>
        buckets.getOrElseUpdate((band.toLong, key), mutable.ArrayBuffer.empty) += id
      }
    }
    val intraWork = buckets.valuesIterator.map(b => b.size.toLong * (b.size - 1) / 2).sum
    if (!DriverSide.fitsOutput(intraWork)) return None
    val corpusPairs = mutable.HashSet.empty[(Long, Long)]
    if (buckets.nonEmpty) {
      val (hits, dead) = read(spark, index, col("key").isin(buckets.keysIterator.map(_._2).toSeq.distinct: _*),
        Seq(col("id").cast("long"), col("band").cast("long"), col("key")), its)
      hits.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
          val idB = r.getLong(0)
          if (!dead(idB) && !batchIds(idB))
            buckets.get((r.getLong(1), r.getLong(2))).foreach(_.foreach(a => corpusPairs += ((a, idB))))
        }
      }
    }
    // intra-batch pairs share a bucket: (later doc, earlier partner)
    val batchPairs = mutable.HashSet.empty[(Long, Long)]
    buckets.valuesIterator.foreach { b =>
      for (x <- b; y <- b if x < y) batchPairs += ((y, x))
    }
    if (!DriverSide.fitsOutput(corpusPairs.size.toLong + batchPairs.size)) return None
    val sets = mutable.HashMap.empty[Long, Set[Long]]
    def addSet(id: Long, tokens: scala.collection.Seq[String]): Unit =
      if (tokens != null) {
        val hs = MinHash.shingleHashes(MinHash.tokenHashes(tokens.toArray), shingleN)
        if (hs.nonEmpty) sets(id) = hs.toSet
      }
    batch.zip(ids).foreach { case (r, id) => if (!r.isNullAt(2)) addSet(id, r.getSeq[String](2)) }
    val candidates = corpusPairs.iterator.map(_._2).toSeq.distinct
    if (candidates.nonEmpty) {
      val (docs, dead) = read(spark, store, col(idCol).isin(candidates: _*),
        Seq(col(idCol).cast("long"), col(textCol), TextOps.tokens(col(textCol))), sts)
      val live = docs.filter(r => !r.isNullAt(0) && !dead(r.getLong(0)))
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getSeq[String](2))).distinct
      if (live.map(_._1).distinct.length != live.length) return None
      live.foreach { case (id, _, tokens) => addSet(id, tokens) }
    }
    def similar(a: Long, b: Long): Boolean = (sets.get(a), sets.get(b)) match {
      case (Some(sa), Some(sb)) =>
        val inter = (if (sa.size <= sb.size) sa.count(sb) else sb.count(sa)).toLong
        val union = sa.size + sb.size - inter
        inter > 0 && sa.size * 10000L >= sb.size * thetaBp &&
          sb.size * 10000L >= sa.size * thetaBp && inter * 10000L / union >= thetaBp
      case _ => false
    }
    def keeps(pairs: mutable.HashSet[(Long, Long)]): Map[Long, Long] =
      pairs.iterator.filter { case (a, b) => similar(a, b) }.toSeq
        .groupMapReduce(_._1)(_._2)(math.min)
    val corpusKeep = keeps(corpusPairs)
    val batchKeep = keeps(batchPairs)
    Some(ids.map(id => corpusKeep.get(id).map(("dup_corpus", _))
      .orElse(batchKeep.get(id).map(("dup_batch", _)))
      .getOrElse(("admitted", id))))
  }

  private def has(s: StructType, name: String, ok: DataType => Boolean): Boolean =
    s.find(_.name == name).exists(f => ok(f.dataType))

  /** The type the plan's `coalesce` of an index id and a batch id takes. */
  private def widened(index: DataType, batch: DataType): Option[DataType] =
    if (integral(index) && integral(batch)) TypeCoercion.findTightestCommonType(index, batch)
    else None

  private def typed(v: Long, t: DataType): Any = t match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case _ => v
  }

  /** `path` as a Spark read sees it; None when it holds a visible
    * subdirectory (a partitioned layout) or footers that do not give one
    * Spark schema. */
  private def dir(fs: FileSystem, path: Path): Option[Dir] = {
    val kids = ParquetFiles.children(fs, path).filterNot(st => ParquetFiles.hidden(st.getPath.getName))
    if (kids.exists(_.isDirectory)) None
    else if (kids.isEmpty) Some(Dir(Nil, 0L, None))
    else ParquetFiles.rowsAndSchema(fs, kids).map { case (n, s) => Dir(kids, n, s) }
  }

  /** The committed tombstones at `path`, as [[DedupIndex.tombstones]]
    * reads them; None when their footers give no integral `id`. */
  private def tombstones(fs: FileSystem, path: String): Option[Dir] =
    dir(fs, new Path(s"$path/_tombstones"))
      .filter(d => d.schema.forall(has(_, "id", integral)))

  /** The batch's projected rows: of a local relation with no job,
    * otherwise through [[DriverSide.collect]]; None when they and
    * `alongside` pass the cutoff, or an id is null, repeated or not
    * integral. */
  private def batchRows(keyed: DataFrame, alongside: Long): Option[Array[Row]] = {
    if (!integral(keyed.schema.head.dataType)) return None
    val rows = keyed.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        if (DriverSide.fits(l.data.size + alongside)) Some(keyed.collect()) else None
      case _ => DriverSide.collect(keyed.rdd, alongside)
    }
    rows.filter { rs =>
      !rs.exists(_.isNullAt(0)) && rs.map(_.getAs[Number](0).longValue()).distinct.length == rs.length
    }
  }

  /** One job: the rows of `d` that `keep` selects, projected to `cols`,
    * and the ids tombstoned in `ts`. */
  private def read(spark: SparkSession, d: Dir, keep: Column, cols: Seq[Column],
      ts: Dir): (Array[Row], Set[Long]) = {
    def rel(x: Dir) = ParquetFiles.relation(spark, x.schema.get, new StructType(), Seq((Nil, x.files)))
    val main = rel(d).filter(keep).select(lit(null).cast(LongType) +: cols: _*)
    val all = if (ts.files.isEmpty) main else main.union(rel(ts).filter(col("id").isNotNull)
      .select(col("id").cast(LongType) +: main.schema.fields.toSeq.tail.map(f => lit(null).cast(f.dataType)): _*))
    val (dead, live) = all.collect().partition(!_.isNullAt(0))
    (live.map(r => Row.fromSeq(r.toSeq.tail)), dead.map(_.getLong(0)).toSet)
  }
}
