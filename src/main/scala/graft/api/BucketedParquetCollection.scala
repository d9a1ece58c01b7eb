package graft.api

import graft.io.ParquetDir
import graft.query.Filter
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The 100 TB CRUD path: a collection hash-bucketed by primary key,
  * where a mutation rewrites ONLY the buckets containing touched keys
  * instead of the whole table ([[ParquetCollection]] is the honest
  * unpartitioned variant; its class doc designs this layout).
  *
  * Layout:
  * {{{
  *   root/b_<bucket>/v_<version>/   bucket snapshot (parquet)
  *   root/_MANIFEST_<version>       lines "bucket,bucketVersion"
  *   root/_SCHEMA_<version>         StructType.json every bucket reads with
  *   root/_CURRENT                  current manifest version (atomic swap)
  * }}}
  *
  * A manifest pins an exact version PER bucket, so a reader that loaded
  * manifest v keeps a consistent multi-bucket snapshot while later
  * mutations write new bucket versions and swap `_CURRENT` — the same
  * write-temp-then-swap isolation as ParquetCollection, applied per
  * bucket. A mutation whose keys land in k of n buckets rewrites k/n of
  * the data: at 1000 buckets, upserting a handful of keys rewrites
  * ~0.1% of a 100 TB table.
  *
  * Touched-bucket content is written in ONE distributed job (dynamic
  * `partitionBy("__b")` into a staging dir, then driver-side renames
  * into the per-bucket version dirs) — no per-bucket job loop.
  *
  * Point lookups prune: `findByKey` computes the key's bucket on the
  * driver and scans that single bucket directory.
  */
class BucketedParquetCollection(
    val spark: SparkSession,
    val root: String,
    val name: String,
    val pk: String,
    val nBuckets: Int = 16) {

  require(nBuckets > 0, "nBuckets must be positive")

  private def currentFile = Paths.get(root, "_CURRENT")

  private def currentVersion: Int =
    if (Files.exists(currentFile)) Files.readString(currentFile).trim.toInt else -1

  /** bucket -> bucket-version pinned by manifest `v`. */
  private def manifest(v: Int): Map[Int, Int] =
    if (v < 0) Map.empty
    else Files.readString(Paths.get(root, s"_MANIFEST_$v")).linesIterator
      .filter(_.nonEmpty)
      .map { l => val Array(b, bv) = l.split(","); b.toInt -> bv.toInt }
      .toMap

  private def bucketDir(b: Int, bv: Int) = s"$root/b_$b/v_$bv"

  private def schemaFile(v: Int) = Paths.get(root, s"_SCHEMA_$v")

  /** The schema manifest `v` declares: the union of its buckets'
    * schemas, recorded at commit. A manifest written before schema
    * files existed gets one the first time it is read: the union of
    * each bucket's inferred schema (one inference per bucket, paid
    * once — a manifest never changes, so the file is written beside it
    * and every later read finds it).
    */
  private def schema(v: Int): StructType =
    ParquetDir.loadSchema(schemaFile(v)).getOrElse {
      val s = manifest(v).toSeq.sortBy(_._1)
        .map { case (b, bv) => ParquetDir.read(spark, None, Seq(bucketDir(b, bv))).schema }
        .reduce(ParquetDir.union)
      val tmp = Paths.get(root, s"_SCHEMA_$v.tmp${java.util.UUID.randomUUID}")
      ParquetDir.saveSchema(tmp, s)
      Files.move(tmp, schemaFile(v), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      s
    }

  /** Buckets as ONE multi-path scan relation with their manifest's
    * declared schema.
    */
  private def read(schema: StructType, buckets: Seq[(Int, Int)]): DataFrame =
    ParquetDir.read(spark, Some(schema),
      buckets.sortBy(_._1).map { case (b, bv) => bucketDir(b, bv) })

  /** Bucket of a key value — Spark's murmur3 `hash`, non-negative. */
  def bucketCol(key: Column): Column = pmod(hash(key), lit(nBuckets))

  /** Driver-side twin of [[bucketCol]] for point lookups. Spark's
    * murmur `hash` is TYPE-dependent (hash(42: int) != hash(42L)), so
    * the literal is cast to the stored pk column's type before hashing
    * — otherwise an Int lookup against a bigint pk lands in the wrong
    * bucket.
    */
  private def bucketOfValue(value: Any, pkType: org.apache.spark.sql.types.DataType): Int = {
    import spark.implicits._
    // one-row local relation; evaluated at plan time, no cluster job
    Seq(0).toDF("x").select(bucketCol(typedLit(value).cast(pkType))).head().getInt(0)
  }

  /** The active snapshot: every bucket's pinned version as ONE
    * multi-path scan relation — not a union of per-bucket reads, which
    * costs O(nBuckets) schema reads and an nBuckets-way union in every
    * plan (at 1000 buckets the plan itself becomes the bottleneck).
    * Every bucket reads with the manifest's DECLARED schema: the union
    * of the schemas its buckets were written with, fixed at commit (a
    * commit whose rows cannot merge with it fails before writing). A
    * bucket version written before a column existed reads as null for
    * it — schema drift surfaces as nulls, not as a loud error — and
    * no read opens a footer to find the schema.
    */
  def df: DataFrame = {
    val v = currentVersion
    val m = manifest(v)
    require(m.nonEmpty, s"collection $name has no data at $root")
    read(schema(v), m.toSeq)
  }

  def count(): Long = df.count()

  def find(where: Filter = Filter.True): DataFrame =
    new Collection(name, df).find(where)

  /** Point lookup reading ONLY the key's bucket directory; the pk type
    * comes from the declared schema, so building the lookup runs no job.
    */
  def findByKey(value: Any): DataFrame = {
    val v = currentVersion
    val m = manifest(v)
    if (m.isEmpty) return df.limit(0) // df throws a clearer error
    val declared = schema(v)
    val pkType = declared(pk).dataType
    val b = bucketOfValue(value, pkType)
    m.get(b) match {
      case Some(bv) => read(declared, Seq(b -> bv)).filter(col(pk) === lit(value).cast(pkType))
      case None => df.limit(0)
    }
  }

  /** Write `rows` (must carry a `__b` bucket column) as new versions of
    * exactly the buckets in `touched`, then publish a manifest that
    * keeps every untouched bucket at its current version.
    */
  private def commitBuckets(rows: DataFrame, touched: Seq[Int]): Unit = {
    val v = currentVersion + 1
    val old = manifest(currentVersion)
    // the schema manifest v declares, settled before anything is
    // written: the staged rows' own when they replace every bucket,
    // else their union with the current one (untouched buckets keep
    // reading through it)
    val stagedSchema = ParquetDir.readBack(rows.drop("__b").schema).get
    val declared =
      if ((old.keySet -- touched).isEmpty) stagedSchema
      else ParquetDir.union(schema(currentVersion), stagedSchema)
    val stage = Paths.get(root, s"_stage_$v")
    // A leftover stage dir is pre-commit garbage by construction
    // (_CURRENT never pointed at it): a crash between staging and
    // cleanup must not brick every later mutation on errorifexists.
    deleteTree(stage)
    rows.write.mode("errorifexists").partitionBy("__b")
      .parquet(stage.toString)
    // Move EVERY staged bucket dir into place as that bucket's version
    // v — derived from the staging output itself, unioned with
    // `touched` so a touched bucket with NO staged rows (fully emptied
    // by a delete) leaves the manifest. Staged buckets outside
    // `touched` would otherwise be silently deleted with the stage dir.
    val staged: Seq[Int] = {
      val ls = Files.list(stage)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("__b=")).map(_.drop(4).toInt).toSeq
      finally ls.close()
    }
    staged.foreach { b =>
      val dst = Paths.get(bucketDir(b, v))
      Files.createDirectories(dst.getParent)
      Files.move(stage.resolve(s"__b=$b"), dst, StandardCopyOption.ATOMIC_MOVE)
    }
    val next = (old -- touched -- staged) ++ staged.map(_ -> v)
    // drop the staging leftovers (_SUCCESS etc.)
    deleteTree(stage)
    val mf = next.toSeq.sorted.map { case (b, bv) => s"$b,$bv" }.mkString("\n")
    Files.writeString(Paths.get(root, s"_MANIFEST_$v"), mf)
    ParquetDir.saveSchema(schemaFile(v), declared)
    val tmp = Paths.get(root, s"_CURRENT.tmp$v")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }

  /** Cast incoming rows' pk to the STORED pk type. Without this, an Int
    * pk in the input hashes to a different bucket than the same value
    * as the stored bigint (murmur hash is type-dependent), so
    * touched-bucket detection and staging would disagree and rows could
    * silently land in (or vanish from) the wrong bucket.
    */
  private def alignPk(rows: DataFrame): DataFrame =
    if (currentVersion < 0) rows
    else rows.withColumn(pk, col(pk).cast(schema(currentVersion)(pk).dataType))

  private def withBucket(rows: DataFrame): DataFrame =
    rows.withColumn("__b", bucketCol(col(pk)))

  /** Buckets containing any row of `rows` — a bounded aggregation
    * (result size <= nBuckets), the only driver-side collect here.
    */
  private def touchedBuckets(rows: DataFrame): Seq[Int] =
    withBucket(rows).select("__b").distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Current content of the given buckets only — one multi-path scan
    * with the declared schema (same rationale as [[df]]).
    */
  private def bucketsDf(bs: Seq[Int]): DataFrame = {
    val v = currentVersion
    val m = manifest(v)
    val present = bs.filter(m.contains)
    if (present.isEmpty) df.limit(0)
    else read(schema(v), present.map(b => b -> m(b)))
  }

  /** Replace the whole collection (rewrites every bucket). */
  def replace(rows: DataFrame): Unit =
    commitBuckets(withBucket(rows), (0 until nBuckets).toSeq)

  /** Append rows; only their buckets are rewritten. */
  def insert(rows: DataFrame): Unit = {
    if (currentVersion < 0) { replace(rows); return }
    val aligned = alignPk(rows)
    val touched = touchedBuckets(aligned)
    val next = bucketsDf(touched).unionByName(aligned, allowMissingColumns = true)
    commitBuckets(withBucket(next), touched)
  }

  /** Upsert by primary key; only buckets containing upserted keys are
    * rewritten (reference upsert semantics, collection.py:298-341).
    */
  def upsert(rows: DataFrame): Unit = {
    if (currentVersion < 0) { replace(rows); return }
    val aligned = alignPk(rows)
    val touched = touchedBuckets(aligned)
    val kept = bucketsDf(touched).join(aligned.select(col(pk)), Seq(pk), "left_anti")
    val next = kept.unionByName(aligned, allowMissingColumns = true)
    commitBuckets(withBucket(next), touched)
  }

  /** Delete definite matches of a Mongo-style where; only buckets that
    * actually contain matching rows are rewritten.
    */
  def deleteWhere(where: Filter): Unit = {
    val cur = df
    val cond = Filter.bind(where, cur.schema).toColumn
    val matching = cur.filter(coalesce(cond, lit(false)))
    val touched = touchedBuckets(matching)
    if (touched.isEmpty) return
    val next = bucketsDf(touched).filter(!coalesce(cond, lit(false)))
    commitBuckets(withBucket(next), touched)
  }

  /** Update by primary key — the pk IS this store's bucketing key, so
    * this is [[upsert]] (reference update semantics; rewrites only the
    * touched buckets).
    */
  def update(rows: DataFrame): Unit = upsert(rows)

  /** Delete objects: remove rows equal to some input row on ALL of the
    * input's columns (null-safe equality — [[ParquetCollection.delete]]
    * semantics). Touched buckets come from the matching rows, so a
    * delete of k keys rewrites only their buckets.
    */
  def delete(objs: DataFrame): Unit = {
    val cur = df
    def on(left: DataFrame) = objs.columns.map(c => left(c) <=> objs(c)).reduce(_ && _)
    val matching = cur.join(objs, on(cur), "left_semi")
    val touched = touchedBuckets(matching)
    if (touched.isEmpty) return
    val slice = bucketsDf(touched)
    val next = slice.join(objs, on(slice), "left_anti")
    commitBuckets(withBucket(next), touched)
  }

  /** Set a nested `path := value` on every row matching `where` —
    * [[ParquetCollection.updatePath]] semantics, but only the buckets
    * holding matching rows are rewritten.
    */
  def updatePath(path: String, value: Column, where: Filter = Filter.True): Unit = {
    val cur = df
    val cond = Filter.bind(where, cur.schema).toColumn
    val touched = touchedBuckets(cur.filter(coalesce(cond, lit(false))))
    if (touched.isEmpty) return
    val slice = bucketsDf(touched)
    val sliceCond = Filter.bind(where, slice.schema).toColumn
    commitBuckets(
      withBucket(graft.ops.ObjectPaths.pathUpdate(slice, path, value, sliceCond)),
      touched)
  }

  /** Remove bucket versions, manifests and their schema files not
    * referenced by the current manifest (old readers' snapshots
    * disappear — run when quiesced).
    */
  def vacuum(): Unit = {
    val v = currentVersion
    if (v < 0) return
    val live = manifest(v)
    val dir = Paths.get(root)
    val ls = Files.list(dir)
    try ls.forEach { p =>
      val n = p.getFileName.toString
      if ((n.startsWith("_MANIFEST_") && n != s"_MANIFEST_$v") ||
          (n.startsWith("_SCHEMA_") && n != s"_SCHEMA_$v"))
        Files.delete(p)
      else if (n.startsWith("_stage_")) // crash leftovers, never published
        deleteTree(p)
      else if (n.startsWith("b_")) {
        val b = n.drop(2).toInt
        val vs = Files.list(p)
        try vs.forEach { vd =>
          val keep = live.get(b).map(bv => s"v_$bv")
          if (!keep.contains(vd.getFileName.toString)) {
            val w = Files.walk(vd)
            try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
            finally w.close()
          }
        }
        finally vs.close()
      }
    }
    finally ls.close()
  }
}
