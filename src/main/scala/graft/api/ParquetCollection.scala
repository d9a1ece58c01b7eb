package graft.api

import graft.io.ParquetDir
import graft.query.Filter
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mutable collection backed by versioned parquet snapshots — the
  * CRUD surface of the reference Collection (reference:
  * src/linkml_store/api/collection.py:179-398: insert / delete /
  * delete_where / update / upsert / replace), re-expressed for an
  * immutable distributed store.
  *
  * Every mutation computes the next snapshot as a declarative plan over
  * the current one, writes it to a NEW version directory
  * (`v_<n>`), then atomically swaps a `_CURRENT` pointer file
  * (write-temp + rename). Readers holding the old DataFrame keep a
  * consistent view (their version directory is never modified) —
  * snapshot isolation for free.
  *
  * Scale note: this rewrites the full table per mutation, which is the
  * honest batch-engine semantic for unpartitioned data. At 100 TB the
  * same swap protocol applies per PARTITION directory (hash-bucket the
  * primary key, rewrite only buckets containing touched keys); the
  * plans below are already key-local so they port unchanged.
  */
class ParquetCollection(
    val spark: SparkSession,
    val root: String,
    val name: String,
    val partitionBy: Seq[String] = Nil) {

  private def currentFile = Paths.get(root, "_CURRENT")

  private def currentVersion: Int =
    if (Files.exists(currentFile)) Files.readString(currentFile).trim.toInt else -1

  /** The active snapshot as a DataFrame (error if never written), read
    * with the schema its commit recorded — no inference job.
    */
  def df: DataFrame = {
    val v = currentVersion
    require(v >= 0, s"collection $name has no data at $root")
    ParquetDir.read(spark, s"$root/v_$v")
  }

  def count(): Long = df.count()

  def find(where: Filter = Filter.True): DataFrame =
    new Collection(name, df).find(where)

  /** Write `next` as a new version and swap the pointer atomically. */
  private def commit(next: DataFrame): Unit = {
    val v = currentVersion + 1
    // Plans referencing the current snapshot read the OLD version dir
    // while writing the new one — no read-modify-write hazard.
    // Partitioned layout => reads with a partition-column predicate
    // prune directories at planning time (PartitionFilters). The
    // version's schema sidecar lands before the swap publishes it.
    ParquetDir.write(next, s"$root/v_$v", "errorifexists", partitionBy)
    val tmp = Paths.get(root, s"_CURRENT.tmp$v")
    Files.createDirectories(Paths.get(root))
    Files.writeString(tmp, v.toString)
    Files.move(tmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Create the collection (replace whatever is there). */
  def replace(rows: DataFrame): Unit = commit(rows)

  /** Append rows (schema united by name; missing columns null-filled). */
  def insert(rows: DataFrame): Unit =
    if (currentVersion < 0) commit(rows)
    else commit(df.unionByName(rows, allowMissingColumns = true))

  /** Delete rows matching a Mongo-style where. Rows where the predicate
    * is NULL (3VL) are KEPT — only definite matches are deleted,
    * matching SQL DELETE semantics.
    */
  def deleteWhere(where: Filter): Unit = {
    val cur = df
    val cond = Filter.bind(where, cur.schema).toColumn
    commit(cur.filter(!coalesce(cond, lit(false))))
  }

  /** Delete objects: remove rows equal to some input row on ALL of the
    * input's columns (null-safe equality, reference delete semantics).
    */
  def delete(objs: DataFrame): Unit = {
    val cur = df
    val on = objs.columns.map(c => cur(c) <=> objs(c)).reduce(_ && _)
    commit(cur.join(objs, on, "left_anti"))
  }

  /** Upsert: rows matching an existing row on `keyCols` REPLACE it;
    * others are appended (reference upsert by filter_fields).
    */
  def upsert(rows: DataFrame, keyCols: Seq[String]): Unit = {
    if (currentVersion < 0) { commit(rows); return }
    val cur = df
    val kept = cur.join(rows.select(keyCols.map(col): _*), keyCols, "left_anti")
    commit(kept.unionByName(rows, allowMissingColumns = true))
  }

  /** Update by primary key — upsert restricted to existing keys. */
  def update(rows: DataFrame, pk: String): Unit = upsert(rows, Seq(pk))

  /** Set a nested `path := value` on every row matching `where` — the
    * reference CLI's `update --set a[0].b.c=v` (reference:
    * src/linkml_store/utils/object_utils.py object_path_update via
    * cli.py update). One projection over the snapshot, committed as the
    * next version.
    */
  def updatePath(path: String, value: org.apache.spark.sql.Column,
      where: Filter = Filter.True): Unit =
    commit(graft.ops.ObjectPaths.pathUpdate(df, path, value, where.toColumn))

  /** Import a file into the collection (reference import_ — reference:
    * src/linkml_store/api/collection.py:1167-1178): append rows read by
    * the [[graft.io.Formats]] registry (format inferred from the
    * extension when not given).
    */
  def importFile(path: String, format: String = null): Unit =
    insert(graft.io.Formats.read(spark, path, format))

  /** Export the current snapshot (reference export). */
  def exportFile(path: String, format: String = null): Unit =
    graft.io.Formats.write(df, path, format)

  /** Stamp which snapshot version an index was built from — the
    * staleness fence: a mutation bumps the version, and readers
    * compare ([[indexFresh]]) instead of silently serving postings
    * of a dead snapshot.
    */
  private def stampSrcVersion(dir: String): Unit =
    Files.writeString(Paths.get(dir, "_SRC_VERSION"), currentVersion.toString)

  /** True iff the index at `dir` was built from the CURRENT snapshot.
    * Missing/corrupt stamps read as stale (fail toward correctness).
    */
  private def indexFresh(dir: String): Boolean = {
    val f = Paths.get(dir, "_SRC_VERSION")
    Files.exists(f) &&
      scala.util.Try(Files.readString(f).trim.toInt).toOption.contains(currentVersion)
  }

  /** The shadow index collection for `textCol` (reference
    * attach_indexer/index_objects keep the index as a SHADOW collection
    * beside the data — collection.py:531-607, 810-905).
    */
  private def indexCollection(textCol: String): ParquetCollection =
    new ParquetCollection(spark, s"$root/_index_$textCol", s"${name}__index_$textCol")

  /** Materialize a hashed-trigram index of `textCol` keyed by `idCol`
    * into the shadow collection. At scale this is the point of an
    * index: searches scan the (much smaller, pre-hashed) posting rows
    * instead of re-tokenizing the corpus per query. Call again after
    * mutations to refresh (reference index_objects).
    */
  def attachIndex(idCol: String, textCol: String,
      dim: Int = graft.index.TrigramIndexer.DefaultDim): Unit = {
    indexCollection(textCol).replace(
      graft.index.TrigramIndexer.index(df, idCol, textCol, dim))
    // persist the hash dimension beside the postings: a search against
    // an index built with a different dim would silently misalign
    // buckets, so search() reads THIS dim rather than trusting its
    // caller's parameter
    Files.writeString(Paths.get(s"$root/_index_$textCol", "_DIM"), dim.toString)
    stampSrcVersion(s"$root/_index_$textCol")
  }

  /** Refresh the materialized index (reference index_objects). */
  def indexObjects(idCol: String, textCol: String,
      dim: Int = graft.index.TrigramIndexer.DefaultDim): Unit =
    attachIndex(idCol, textCol, dim)

  /** Materialize a persisted IVF vector index over `vecCol`
    * ([[graft.ann.IvfIndex]]): cell assignments land partitioned by
    * cell, so [[searchVector]] probes are PARTITION-PRUNED reads of
    * nProbe cells, never a corpus scan. Call again after mutations.
    *
    * By default the codebook is TRAINED ([[graft.ann.KMeans.fit]],
    * `trainIters` Lloyd's passes) — tighter cells ⇒ better recall at
    * the same nProbe (KMeansSpec pins the comparison). `trained =
    * false` falls back to the deterministic first-nCells-by-id coarse
    * quantizer (exact parity with scan-time [[graft.ann.Knn.ivfTopK]]).
    */
  def attachVectorIndex(idCol: String, vecCol: String, nCells: Int = 16,
                        trained: Boolean = true, trainIters: Int = 5): Unit = {
    val dir = s"$root/_vindex_$vecCol"
    if (trained) {
      val m = graft.ann.KMeans.fit(df, idCol, vecCol, k = nCells, maxIters = trainIters)
      graft.ann.IvfIndex.build(df, idCol, vecCol, m.centroids, dir)
    } else graft.ann.IvfIndex.build(df, idCol, vecCol, nCells, dir)
    stampSrcVersion(dir)
  }

  /** Ingest `delta` into the collection AND its standing IVF index in
    * one step — the daily-delta path at scale: rows append to the
    * corpus snapshot, their cell assignments land as NEW FILES under
    * the touched cell directories only ([[graft.ann.IvfIndex.append]]
    * — the standing cells are never read or rewritten, placement is
    * identical to a rebuild because the persisted codebook assigns),
    * and the freshness stamp advances with the new snapshot version,
    * so probes keep working without an index rebuild. Requires a
    * FRESH index: ingesting over a stale one would silently leave the
    * earlier mutation unindexed.
    */
  def insertIndexed(delta: org.apache.spark.sql.DataFrame,
                    idCol: String, vecCol: String): Unit = {
    val dir = s"$root/_vindex_$vecCol"
    require(Files.exists(Paths.get(dir)),
      s"no vector index on '$vecCol' — call attachVectorIndex first")
    require(indexFresh(dir),
      s"vector index on '$vecCol' is STALE — rebuild before incremental ingest")
    insert(delta)
    graft.ann.IvfIndex.append(delta, idCol, vecCol, dir)
    stampSrcVersion(dir)
  }

  /** Materialize a persisted IVF+PQ vector index ([[graft.ann.IvfPqIndex]]):
    * cells hold m-byte PQ codes of the residuals instead of raw
    * vectors (~32× smaller at m=8 over 64-dim float32 — the variant
    * for a corpus whose vectors don't fit cluster RAM). Probes are
    * partition-pruned ADC scans with exact re-rank via [[searchVectorPq]].
    */
  def attachVectorIndexPq(idCol: String, vecCol: String, nCells: Int = 16,
                          m: Int = 8, ks: Int = 16): Unit = {
    graft.ann.IvfPqIndex.build(df, idCol, vecCol, s"$root/_vpqindex_$vecCol",
      nCells, m, ks)
    stampSrcVersion(s"$root/_vpqindex_$vecCol")
  }

  /** ADC top-k against the materialized IVF+PQ index; `rerank > k`
    * re-ranks that many ADC candidates by exact cosine against the
    * collection's raw vectors (only the candidates' vectors are read).
    */
  def searchVectorPq(idCol: String, vecCol: String, queryVec: Seq[Double],
                     k: Int, nProbe: Int = 4, rerank: Int = 0): org.apache.spark.sql.DataFrame = {
    require(Files.exists(Paths.get(s"$root/_vpqindex_$vecCol")),
      s"no PQ vector index on '$vecCol' — call attachVectorIndexPq first")
    require(indexFresh(s"$root/_vpqindex_$vecCol"),
      s"PQ vector index on '$vecCol' is STALE (the collection mutated since " +
        "the build) — call attachVectorIndexPq again")
    graft.ann.IvfPqIndex.probe(spark, s"$root/_vpqindex_$vecCol", queryVec, k,
      nProbe, rerank, raw = if (rerank > k) Some((df, idCol, vecCol)) else None)
  }

  /** Materialized IVF vector indexes as (vecCol, nCells) pairs. */
  def listVectorIndexes: Seq[(String, Int)] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return Nil
    val s = Files.list(rootPath)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("_vindex_"))
        .map { p =>
          val cellsFile = p.resolve("_CELLS")
          // a corrupt/missing _CELLS (interrupted build) must not break
          // the listing of the remaining healthy indexes
          val n = scala.util.Try(Files.readString(cellsFile).trim.toInt).getOrElse(-1)
          p.getFileName.toString.stripPrefix("_vindex_") -> n
        }.toSeq.sortBy(_._1)
    } finally s.close()
  }

  /** Exact cosine top-k against the materialized IVF index of
    * `vecCol` (build with [[attachVectorIndex]] first).
    */
  def searchVector(vecCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int = 4): org.apache.spark.sql.DataFrame = {
    require(Files.exists(Paths.get(s"$root/_vindex_$vecCol")),
      s"no vector index on '$vecCol' — call attachVectorIndex first")
    require(indexFresh(s"$root/_vindex_$vecCol"),
      s"vector index on '$vecCol' is STALE (the collection mutated since " +
        "the build) — call attachVectorIndex again")
    graft.ann.IvfIndex.probe(spark, s"$root/_vindex_$vecCol", queryVec, k, nProbe)
  }

  /** Materialize a persisted BM25 inverted index over `textCol`
    * ([[graft.index.Bm25Index]]): postings land partitioned by term
    * bucket, so [[searchBm25Indexed]] probes are PARTITION-PRUNED
    * reads of the query terms' buckets — never the corpus scan
    * [[Collection.searchBm25]] pays per call. Call again after
    * mutations (or ingest via [[insertBm25Indexed]]).
    */
  def attachBm25Index(idCol: String, textCol: String, nBuckets: Int = 64): Unit = {
    graft.index.Bm25Index.build(df, idCol, textCol,
      s"$root/_bm25index_$textCol", nBuckets)
    stampSrcVersion(s"$root/_bm25index_$textCol")
  }

  /** Top-k by BM25 against the materialized inverted index —
    * bit-identical scores to the scan-time [[Collection.searchBm25]]
    * (Bm25IndexSpec pins the parity).
    */
  def searchBm25Indexed(textCol: String, query: String, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val dir = s"$root/_bm25index_$textCol"
    require(Files.exists(Paths.get(dir)),
      s"no BM25 index on '$textCol' — call attachBm25Index first")
    require(indexFresh(dir),
      s"BM25 index on '$textCol' is STALE (the collection mutated since " +
        "the build) — call attachBm25Index again")
    graft.index.Bm25Index.search(spark, dir, query, k, k1, b)
  }

  /** Ingest `delta` into the collection AND its standing BM25 index in
    * one step (the [[insertIndexed]] contract for the lexical index):
    * the delta's postings append as new files under their term
    * buckets, the standing postings are never read or rewritten, and
    * corpus stats accumulate as one appended meta row.
    */
  def insertBm25Indexed(delta: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): Unit = {
    val dir = s"$root/_bm25index_$textCol"
    require(Files.exists(Paths.get(dir)),
      s"no BM25 index on '$textCol' — call attachBm25Index first")
    require(indexFresh(dir),
      s"BM25 index on '$textCol' is STALE — rebuild before incremental ingest")
    insert(delta)
    graft.index.Bm25Index.append(delta, idCol, textCol, dir)
    stampSrcVersion(dir)
  }

  /** Shadow-index key for a multi-attribute rendering: the '+'-joined
    * attribute list PLUS a template fingerprint — an index materialized
    * for one rendering must never serve a search that asked for a
    * different one (same attrs, different template → different text →
    * different postings).
    */
  private def indexKey(attrs: Seq[String], template: Option[String]): String =
    attrs.mkString("+") +
      template.map(t => f"+tpl${t.hashCode & 0x7fffffff}%08x").getOrElse("")

  /** The dim a materialized shadow index was built with, if one exists
    * for `key` (search must use THAT dim, not the caller's).
    */
  private def materializedDim(key: String): Option[Int] =
    // a stale index (collection mutated since the build) reads as
    // not-materialized: search falls back to the inline index over
    // the CURRENT snapshot — correct results at scan cost, never
    // postings of a dead version
    if (!Files.exists(Paths.get(s"$root/_index_$key", "_CURRENT")) ||
        !indexFresh(s"$root/_index_$key")) None
    else {
      val dimFile = Paths.get(s"$root/_index_$key", "_DIM")
      Some(if (Files.exists(dimFile)) Files.readString(dimFile).trim.toInt
        else graft.index.TrigramIndexer.DefaultDim)
    }

  /** Materialize a multi-attribute index (reference index_attributes /
    * text_template — indexer.py:81-156): rows render to text via
    * [[graft.index.Indexer.objectText]] before trigram hashing. The
    * shadow collection is keyed by attributes AND template, so
    * different renderings coexist.
    */
  def attachIndex(idCol: String, attrs: Seq[String],
      template: Option[String],
      dim: Int): Unit = {
    val key = indexKey(attrs, template)
    val withText = df.withColumn("__obj_text",
      graft.index.Indexer.objectText(attrs, template))
    indexCollection(key).replace(
      graft.index.TrigramIndexer.index(withText, idCol, "__obj_text", dim))
    Files.writeString(Paths.get(s"$root/_index_$key", "_DIM"), dim.toString)
    stampSrcVersion(s"$root/_index_$key")
  }

  def attachIndex(idCol: String, attrs: Seq[String]): Unit =
    attachIndex(idCol, attrs, None, graft.index.TrigramIndexer.DefaultDim)

  /** Materialized shadow indexes as (key, dim) pairs — one entry per
    * `_index_*` directory holding a current snapshot (reference:
    * cli.py:986 `indexes` lists a collection's indexers).
    */
  def listIndexes: Seq[(String, Int)] = {
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(rootPath)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("_index_") &&
          Files.exists(p.resolve("_CURRENT")))
        .map { p =>
          val key = p.getFileName.toString.stripPrefix("_index_")
          val dimFile = p.resolve("_DIM")
          val dim = if (Files.exists(dimFile)) Files.readString(dimFile).trim.toInt
            else graft.index.TrigramIndexer.DefaultDim
          key -> dim
        }.toSeq.sortBy(_._1)
      finally s.close()
    }
  }

  /** Cosine top-k search over a multi-attribute rendering; uses the
    * materialized shadow index for the same (attributes, template)
    * when one exists, else builds inline.
    */
  def search(idCol: String, attrs: Seq[String], query: String, k: Int,
      template: Option[String]): DataFrame =
    search(idCol, attrs, query, k, template, Filter.True, Nil)

  def search(idCol: String, attrs: Seq[String], query: String, k: Int,
      template: Option[String], where: Filter, selectCols: Seq[String]): DataFrame = {
    val key = indexKey(attrs, template)
    val base = filteredBase(where)
    val (idxDf, effDim) = materializedDim(key) match {
      case Some(d) => (restrictIndex(indexCollection(key).df, idCol, where, base), d)
      case None =>
        val d = graft.index.TrigramIndexer.DefaultDim
        (graft.index.TrigramIndexer.index(
          base.withColumn("__obj_text", graft.index.Indexer.objectText(attrs, template)),
          idCol, "__obj_text", d), d)
    }
    val ranked = graft.index.Search.searchTrigram(spark, idxDf, idCol, query, k, effDim)
    Collection.attachSearchCols(ranked, base, idCol, selectCols, Seq("score"))
  }

  /** The collection pre-filtered by a search `where` (reference
    * collection.py:531-537: search scores only the matching slice).
    * The bound predicate sits directly on the parquet scan, so it
    * reaches PushedFilters — a filtered search reads a slice, not the
    * corpus.
    */
  private def filteredBase(where: Filter): DataFrame =
    if (where == Filter.True) df
    else df.filter(Filter.bind(where, df.schema).toColumn)

  /** Restrict materialized index postings to the rows matching the
    * search pre-filter: a LEFT SEMI join on id against the filtered
    * base scan (ids only — column-pruned). AQE broadcasts the id set
    * when the slice is small; unfiltered searches skip the join
    * entirely.
    */
  private def restrictIndex(idx: DataFrame, idCol: String,
      where: Filter, base: DataFrame): DataFrame =
    if (where == Filter.True) idx
    else idx.join(base.select(org.apache.spark.sql.functions.col(idCol)),
      Seq(idCol), "left_semi")

  /** Cosine top-k search. Uses the MATERIALIZED shadow index when one
    * has been attached; otherwise builds the index inline (correct but
    * corpus-scanning — the reference similarly auto-indexes on demand).
    */
  def search(idCol: String, textCol: String, query: String, k: Int = 10,
      dim: Int = graft.index.TrigramIndexer.DefaultDim,
      where: Filter = Filter.True, selectCols: Seq[String] = Nil): DataFrame = {
    val idx = indexCollection(textCol)
    // stale ⇒ inline fallback over the current snapshot (see
    // materializedDim)
    val materialized = Files.exists(Paths.get(s"$root/_index_$textCol", "_CURRENT")) &&
      indexFresh(s"$root/_index_$textCol")
    // the materialized path uses the dim the index was BUILT with — the
    // caller's dim only drives the inline fallback
    val effDim =
      if (materialized) {
        val dimFile = Paths.get(s"$root/_index_$textCol", "_DIM")
        if (Files.exists(dimFile)) Files.readString(dimFile).trim.toInt else dim
      } else dim
    val base = filteredBase(where)
    val idxDf =
      if (materialized) restrictIndex(idx.df, idCol, where, base)
      else graft.index.TrigramIndexer.index(base, idCol, textCol, effDim)
    val ranked = graft.index.Search.searchTrigram(spark, idxDf, idCol, query, k, effDim)
    Collection.attachSearchCols(ranked, base, idCol, selectCols, Seq("score"))
  }

  /** Remove version directories older than the current one. */
  def vacuum(): Unit = {
    val keep = s"v_$currentVersion"
    val dir = Paths.get(root)
    if (Files.exists(dir)) {
      val ls = Files.list(dir)
      try ls.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v_") && n != keep) {
          val w = Files.walk(p)
          try w.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.delete(f))
          finally w.close()
        }
      }
      finally ls.close()
    }
  }
}
