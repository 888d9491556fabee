package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftExpressions._

/** PERSISTED IVF index: the production shape of [[Similarity.ivfTopK]] —
  * fit the coarse quantizer once, lay the corpus out cell-partitioned on
  * disk, and let every later query batch prune to its probed cells at the
  * FILE level (partition-dir filter, same mechanism as the upsert store's
  * buckets). `ivfTopK` refits and reshuffles per call, which is right for
  * one-shot exploration and wrong for a serving path: at 100 TB the
  * assignment pass alone reads the corpus, so an index queried twice has
  * already paid for itself.
  *
  * On-disk layout under `path`:
  *   - `assignments/_cell=N/` — (id, vec) parquet, one dir per cell
  *   - `centroids/`           — (cell, centroid float[], in-cell count)
  *   - `_meta.json`           — numCells/seed/fitSampleSize + column names
  *
  * Search reads `centroids` (numCells rows — broadcast), picks each
  * query's `nprobe` nearest cells by cosine, and scans ONLY the probed
  * cell dirs (`_cell in (...)` is a partition filter over the union of
  * probed cells; per-(query, cell) matching stays an equi-join against
  * the broadcast probe list). Scoring and the bounded-heap top-k are the
  * exact code `ivfTopK` runs, and the quantizer fit is the SAME seeded
  * sample-fit (`Similarity.fitCoarseQuantizer`), so `search(build(data))`
  * equals `ivfTopK(data)` row-for-row for equal parameters — the spec
  * pins that identity plus the file-level pruning.
  *
  * Builds publish by staged rename with the old index retired ASIDE, not
  * deleted first: `<path>_tmp` is fully written (its `_meta.json` lands
  * last, so a tmp WITH meta is complete by construction), the live dir is
  * renamed to `<path>_old`, tmp moves into place, and only then is the
  * aside copy dropped — so no crash point leaves zero complete copies on
  * disk (the previous delete-then-rename protocol lost the only copy in
  * the delete→rename window — ADVICE r9). [[recoverCrash]] runs at the
  * head of every WRITE-path entry point and rolls forward (complete tmp)
  * or back (aside copy) as the surviving artifacts dictate; READ paths
  * are passive ([[ensureLive]], ADVICE r10) — they serve the live dir or
  * throw retryably, never renaming, so a reader can't roll a healthy
  * writer's in-flight swap out from under it.
  */
object AnnIndex {

  /** `pqM`/`pqKsub` are 0 for a plain (full-width) IVF index; a PQ index
    * stores codes alongside the refine vectors and sets both.
    */
  private case class Meta(idCol: String, vecCol: String, numCells: Int,
      seed: Long, fitSampleSize: Int, pqM: Int = 0, pqKsub: Int = 0)

  private def rmTree(f: java.io.File): Unit = graft.util.Fs.rmTree(f)

  /** GENERATION-KEYED immutable-artifact cache (r19, optimization round —
    * guide §1.2 "per-task work": cut redundant driver actions). The
    * quantizer model, PQ codebooks, and base-layout column list of a
    * persisted index are IMMUTABLE for the lifetime of one index
    * generation: appends/tombstones never touch them, and every operation
    * that can change them ([[buildIvf]]/[[buildIvfPq]]/[[compactIvf]])
    * publishes a WHOLE new directory via [[swapInto]]. The cache key is
    * (canonical path, the generation token in `_meta.json`): a build
    * writes a fresh token, and a compaction copies the meta with its
    * token because the artifacts it serves are byte-identical. A legacy
    * meta without a token falls back to its mtime+size. Before this
    * cache, EVERY per-batch append re-ran `KMeansModel.load` (several
    * driver actions through the ML reader), re-collected the codebooks
    * parquet, and re-read the base footer schema — measured as ~35 of the 146 jobs in one
    * `q_ann_stream_maintain_pq` run, pure fixed overhead at any scale
    * (the artifacts are KB-sized; the reload tax is per-BATCH, so it
    * also rides every production micro-batch). Entries are dropped
    * wholesale past a small cap — correctness never depends on a hit.
    */
  private class IndexArtifacts(path: String) {
    // resolve the ACTIVE session at read time, never capture one (r20,
    // ADVICE r19 #1): the cache is JVM-global, so a cached entry whose
    // lazy member is first forced after its creating session was stopped
    // (driver reuse, test suites) must read through the session that is
    // live NOW — the on-disk artifacts are the same either way
    lazy val model: org.apache.spark.ml.clustering.KMeansModel =
      org.apache.spark.ml.clustering.KMeansModel
        .load(new java.io.File(path, "model").getPath)
    lazy val codebooks: Array[Array[Array[Float]]] =
      readCodebooksUncached(SparkSession.active, path)
    lazy val dataColumns: Seq[String] =
      SparkSession.active.read
        .parquet(new java.io.File(path, "assignments").getPath)
        .schema.fieldNames.toSeq.filterNot(n => n == "_cell" || n == "_code")
  }

  private val artifactCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), IndexArtifacts]()

  private def artifacts(spark: SparkSession, path: String): IndexArtifacts = {
    // generation key: the monotonic token [[writeMeta]] embeds (r20,
    // ADVICE r19 #2 — filesystem mtime has 1s resolution on some FSes,
    // so a rebuild inside the granularity window could serve the stale
    // quantizer); legacy metas without a token fall back to mtime+size
    val meta = new java.io.File(path, "_meta.json")
    val gen = Option(jsonMapper.readTree(meta).get("gen")).map(_.asText())
      .getOrElse(s"legacy:${meta.lastModified()}:${meta.length()}")
    val key = (new java.io.File(path).getCanonicalPath, gen)
    if (artifactCache.size > 16) artifactCache.clear()
    artifactCache.computeIfAbsent(key, _ => new IndexArtifacts(path))
  }

  /** Heal a crashed [[buildIvf]]/[[compactIvf]] swap. Branches, derived
    * from the strict artifact order (tmp completed → live retired aside →
    * tmp promoted → aside dropped):
    *  - live missing + tmp complete (has `_meta.json`): the crash hit
    *    between retire and promote — roll FORWARD (tmp is a full index).
    *  - live missing + only the aside copy: promote crashed some other way
    *    (or forward-roll's own rename tore) — roll BACK to the aside copy.
    *  - live present: nothing to heal. Debris cleanup (`cleanDebris`) is
    *    WRITER-ONLY: a read path deleting `<path>_tmp` would destroy a
    *    concurrent build/compact's in-flight staged dir and break the
    *    "old index serves reads until the final rename" contract (review
    *    r10) — readers never mutate a healthy index; the single writer
    *    sweeps its own debris at its next build/compact/append.
    * Idempotent; a crash during recovery re-runs it.
    */
  /** READ-path guard: PASSIVE (ADVICE r10). A reader that performed the
    * recovery renames itself raced the single WRITER's healthy
    * [[swapInto]]: in the window between move(live→aside) and
    * move(tmp→live), live is briefly absent while tmp is complete, so an
    * active reader would roll the in-flight swap forward underneath the
    * writer — whose own promote then dies with NoSuchFileException (or,
    * racing the rollback branch, FileAlreadyExistsException), failing a
    * perfectly healthy build/compact. Readers therefore never rename:
    * live present → serve it; live absent → a retryable "mid-swap or
    * crashed" error. Crash HEALING stays writer-only ([[recoverCrash]]
    * at the head of every mutating entry point).
    */
  private def ensureLive(path: String): Unit = {
    val live = new java.io.File(path)
    if (!live.exists()) {
      val tmp = new java.io.File(path + "_tmp")
      val aside = new java.io.File(path + "_old")
      if (new java.io.File(tmp, "_meta.json").exists() || aside.exists())
        throw new IllegalStateException(
          s"ANN index at $path is mid-swap (or a crashed writer left it " +
            "recoverable) — retry, or run a write-path operation to heal")
      throw new IllegalStateException(s"no ANN index at $path")
    }
  }

  private def recoverCrash(path: String, cleanDebris: Boolean = false): Unit = {
    val live = new java.io.File(path)
    val tmp = new java.io.File(path + "_tmp")
    val aside = new java.io.File(path + "_old")
    if (!live.exists()) {
      if (new java.io.File(tmp, "_meta.json").exists())
        java.nio.file.Files.move(tmp.toPath, live.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else if (aside.exists())
        java.nio.file.Files.move(aside.toPath, live.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    if (cleanDebris && live.exists()) { rmTree(tmp); rmTree(aside) }
  }

  /** Retire-aside swap: publish the COMPLETE staged dir `tmp` as `path`.
    * Precondition: tmp's `_meta.json` exists (the completeness marker
    * recovery keys on).
    */
  private def swapInto(path: String, tmp: java.io.File): Unit = {
    require(new java.io.File(tmp, "_meta.json").exists(),
      s"internal: staged index $tmp is incomplete (no _meta.json)")
    val live = new java.io.File(path)
    val aside = new java.io.File(path + "_old")
    rmTree(aside)
    if (live.exists())
      java.nio.file.Files.move(live.toPath, aside.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(tmp.toPath, live.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    rmTree(aside)
  }

  /** Fit + assign + write. Overwrites an existing index atomically (the
    * old index serves reads until the final rename). The fitted quantizer
    * model is persisted inside the index, so [[appendIvf]] can assign new
    * vectors to the SAME cells later without refitting.
    */
  def buildIvf(path: String, data: DataFrame, idCol: String, vecCol: String,
      numCells: Int, seed: Long = 42L, fitSampleSize: Int = 20000,
      attrCols: Seq[String] = Nil): Unit = {
    recoverCrash(path, cleanDebris = true)
    val model = Similarity.fitCoarseQuantizer(data, idCol, vecCol, numCells,
      seed, fitSampleSize)
    val tmp = new java.io.File(path + "_tmp")
    rmTree(tmp) // a crashed previous build's debris
    // attrCols ride next to (id, vector) in the cell layout — parquet
    // column pruning keeps them free for unfiltered searches, and
    // filtered searches push predicates straight into the probed-cell
    // scan; appends must carry the same columns (schema is the record)
    assign(model, data.select((Seq(idCol, vecCol) ++ attrCols)
        .distinct.map(col): _*), idCol, vecCol)
      .write.partitionBy("_cell")
      .mode("overwrite").parquet(new java.io.File(tmp, "assignments").getPath)
    model.write.overwrite().save(new java.io.File(tmp, "model").getPath)
    writeCentroids(data.sparkSession, tmp, model,
      new java.io.File(tmp, "assignments").getPath)
    writeFoldedBatches(tmp, Set.empty) // a fresh build has folded nothing
    writeMeta(tmp, Meta(idCol, vecCol, numCells, seed, fitSampleSize))
    swapInto(path, tmp)
  }

  /** PERSISTED IVF-PQ — the 25B-embedding serving layout ([[Similarity
    * .ivfPqTopK]] made durable, VERDICT r9 #4): each assignment row stores
    * the m-byte PQ code NEXT TO the full-width refine vector, and parquet's
    * columnar projection makes the split free — the ADC candidate scan
    * reads only (id, code) bytes of the probed cells (~m bytes/vector),
    * while the exact-refine stage reads the vector column for the
    * `refine·k` candidate rows alone. Coarse quantizer AND codebooks fit
    * on the same hash-ordered sample with the same seeds as `ivfPqTopK`,
    * so `searchIvfPq(buildIvfPq(data)) ≡ ivfPqTopK(data)` row-for-row for
    * equal parameters (spec-pinned, like the plain-IVF identity).
    * Appends ([[appendIvf]]/[[appendIvfBatch]]) encode with the PERSISTED
    * codebooks — cells and codes stay stable forever, which is what makes
    * an append O(batch); compaction and replay idempotence are the same
    * machinery as the plain index.
    */
  def buildIvfPq(path: String, data: DataFrame, idCol: String,
      vecCol: String, numCells: Int, m: Int = 8, ksub: Int = 256,
      seed: Long = 42L, fitSampleSize: Int = 20000,
      attrCols: Seq[String] = Nil): Unit = {
    import graft.functions.SketchOps
    recoverCrash(path, cleanDebris = true)
    require(m > 0 && ksub > 1 && ksub <= 256,
      s"need m > 0 and ksub in 2..256, got m=$m ksub=$ksub")
    val spark = data.sparkSession
    import spark.implicits._
    val model = Similarity.fitCoarseQuantizer(data, idCol, vecCol, numCells,
      seed, fitSampleSize)
    // the SAME hash-ordered deterministic sample ivfPqTopK trains on
    val sample = data
      .select(col(vecCol).alias("_v"), xxhash64(col(idCol)).alias("_h"))
      .orderBy(col("_h")).limit(fitSampleSize)
      .select(col("_v")).as[Array[Float]].collect()
    val codebooks = SketchOps.pqTrain(sample, m, ksub)
    val tmp = new java.io.File(path + "_tmp")
    rmTree(tmp)
    assign(model, data.select((Seq(idCol, vecCol) ++ attrCols)
        .distinct.map(col): _*), idCol, vecCol)
      .withColumn("_code", pq_encode(col(vecCol), codebooks))
      .write.partitionBy("_cell")
      .mode("overwrite").parquet(new java.io.File(tmp, "assignments").getPath)
    model.write.overwrite().save(new java.io.File(tmp, "model").getPath)
    writeCentroids(data.sparkSession, tmp, model,
      new java.io.File(tmp, "assignments").getPath)
    writeCodebooks(spark, tmp, codebooks)
    writeFoldedBatches(tmp, Set.empty)
    writeMeta(tmp, Meta(idCol, vecCol, numCells, seed, fitSampleSize,
      pqM = m, pqKsub = ksub))
    swapInto(path, tmp)
  }

  /** Codebooks as one tiny parquet (m × ksub rows of subvector centers) —
    * readable by any engine, reloaded into the literal shape the codegen
    * kernels take.
    */
  private def writeCodebooks(spark: SparkSession, indexDir: java.io.File,
      codebooks: Array[Array[Array[Float]]]): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (center, c) => (s, c, center) }
    }.toSeq.toDF("sub", "code", "center")
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(indexDir, "codebooks").getPath)
  }

  private def readCodebooksUncached(spark: SparkSession,
      path: String): Array[Array[Array[Float]]] = {
    import spark.implicits._
    val rows = spark.read
      .parquet(new java.io.File(path, "codebooks").getPath)
      .as[(Int, Int, Array[Float])].collect()
    val m = rows.map(_._1).max + 1
    Array.tabulate(m) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
  }

  /** Top-k cosine search against a persisted IVF-PQ index: probe cells by
    * centroid cosine, scan ONLY the probed cells' (id, code) columns under
    * asymmetric-distance cosine, keep `refine·k` candidates per query in
    * the bounded heap, then re-score exactly against the vector column of
    * the candidate rows alone. Result ≡ [[Similarity.ivfPqTopK]] for equal
    * parameters.
    */
  def searchIvfPq(path: String, queries: DataFrame, queryIdCol: String,
      k: Int, nprobe: Int = 4, refine: Int = 4,
      where: Option[Column] = None,
      bruteForcePoolPerCell: Double = 10.0): DataFrame = {
    val spark = queries.sparkSession
    ensureLive(path)
    val meta = readMeta(spark, path)
    require(meta.pqM > 0,
      s"index at $path is plain IVF (no PQ codes) — use searchIvf")
    // the selective-predicate hatch (see searchIvf) applies BEFORE the
    // ADC stage: a tiny qualifying pool is scanned exactly against the
    // full-width refine vectors — more accurate than compressed-domain
    // scoring AND cheaper than probing
    filteredBruteForceHatch(spark, path, meta, queries, queryIdCol, k,
      where, bruteForcePoolPerCell) match {
      case Some(exact) => return exact
      case None =>
    }
    val codebooks = artifacts(spark, path).codebooks
    val cellDf = broadcast(
      spark.read.parquet(new java.io.File(path, "centroids").getPath)
        .select(col("_cell"), col("_centroid")))
    val q = queries.select(col(queryIdCol).alias("query_id"),
      col(meta.vecCol).alias("_qvec"))
    val probes = q.crossJoin(cellDf)
      .withColumn("_csim", cosine_sim(col("_qvec"), col("_centroid")))
      .withColumn("_rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("_csim").desc, col("_cell"))))
      .where(col("_rnk") <= nprobe)
      .select(col("query_id"), col("_qvec"), col("_cell"))
      .localCheckpoint(true) // probed thrice: cell-union + adc + refine
    val probedCells = probes.select(col("_cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // the filtered-search predicate applies BEFORE the ADC candidate
    // top-k (see searchIvf) — disqualified vectors must not consume
    // candidate slots, or the refined k under-fills
    val visible = visibleAssignments(spark, path, meta.idCol)
      .where(col("_cell").isin(probedCells: _*))
    val indexed = where.fold(visible)(visible.where)
    // ADC candidate scan: only (id, _cell, _code) columns are read
    val adc = indexed.select(col(meta.idCol), col("_cell"), col("_code"))
      .join(broadcast(probes), Seq("_cell"))
      .where(col(meta.idCol) =!= col("query_id"))
      .select(col("query_id"), col(meta.idCol).alias("neighbor_id"),
        pq_adc_cosine(col("_qvec"), col("_code"), codebooks).alias("cosine"))
    val candidates = Similarity.topKPerQuery(adc, math.max(k, refine * k))
      .select(col("query_id"), col("neighbor_id"))
    // exact refine: the vector column is read for candidate rows only
    val exact = indexed
      .select(col(meta.idCol).alias("neighbor_id"), col(meta.vecCol))
      .join(broadcast(candidates), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col(meta.vecCol), col("_qvec")).alias("cosine"))
    Similarity.topKPerQuery(exact, k)
  }

  /** The filtered-search brute-force hatch shared by [[searchIvf]] and
    * [[searchIvfPq]]: `Some(exact filtered top-k)` when a selective
    * predicate leaves an average per-cell qualifying pool below the
    * threshold, `None` (probe as usual) otherwise. The decision costs one
    * count over the qualifying rows — parquet column pruning means it
    * reads only the predicate's columns (plus the id column when
    * tombstones exist), never a vector byte; the exact scan it buys is
    * O(qualifying × queries) work on a pool the threshold bounds by
    * `poolPerCell · numCells` rows. SCALING §23's recall table is the
    * measurement behind the default (below ~10 qualifying rows per cell
    * probing under-recalls, 0.073 worst case at 1/100 selectivity);
    * SCALING §24 measures the price: ~+0.2 s of decision-count overhead
    * on local[32] — exactness is the product, not speed.
    */
  private def filteredBruteForceHatch(spark: SparkSession, path: String,
      meta: Meta, queries: DataFrame, queryIdCol: String, k: Int,
      where: Option[Column], poolPerCell: Double): Option[DataFrame] =
    where.flatMap { pred =>
      if (poolPerCell <= 0) None
      else {
        val qual = visibleAssignments(spark, path, meta.idCol).where(pred)
        if (qual.count() >= poolPerCell * meta.numCells) None
        else Some(Similarity.bruteForceTopK(
          qual.select(col(meta.idCol), col(meta.vecCol)),
          queries, meta.idCol, meta.vecCol, queryIdCol, k))
      }
    }

  /** Cell-assign every row of `data`, keeping ALL its columns — the
    * caller selects which columns the index persists (id + vector always;
    * attribute columns when the index serves filtered search).
    */
  private def assign(model: org.apache.spark.ml.clustering.KMeansModel,
      data: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    model.transform(
        data.withColumn("_features",
          array_to_vector(col(vecCol).cast("array<double>"))))
      .drop("_features")
  }

  /** The data columns this index persists per row (from the base layout's
    * schema — the one authority appends must match), minus the layout
    * internals. */
  private def indexDataColumns(spark: SparkSession, path: String): Seq[String] =
    spark.read.parquet(new java.io.File(path, "assignments").getPath)
      .schema.fieldNames.toSeq.filterNot(n => n == "_cell" || n == "_code")

  /** (cell, centroid, count) table — the stats an nprobe/numCells tuning
    * pass reads without touching the assignments.
    */
  private def writeCentroids(spark: SparkSession, indexDir: java.io.File,
      model: org.apache.spark.ml.clustering.KMeansModel,
      assignmentsPath: String): Unit = {
    import spark.implicits._
    // per-cell row counts from the parquet FOOTERS — driver-side metadata
    // (r20, guide §6): the pre-r20 groupBy-count scheduled a Spark job
    // that re-read the ENTIRE just-written layout once per build and once
    // per compaction. Footer record counts are authoritative committed
    // metadata, and the cell is the partition dir, so the per-cell sums
    // are exactly the old aggregation. The all-deleted compact writes an
    // unpartitioned empty file (no _cell dirs) → empty map → zeros, the
    // same rows the empty scan produced.
    val counts: Map[Int, Long] =
      Option(new java.io.File(assignmentsPath).listFiles((f: java.io.File) =>
        f.isDirectory && f.getName.startsWith("_cell=")))
        .getOrElse(Array.empty[java.io.File])
        .map(d => d.getName.stripPrefix("_cell=").toInt ->
          graft.util.Fs.parquetRowCount(d))
        .toMap
    model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        (i, c.toArray.map(_.toFloat), counts.getOrElse(i, 0L))
      }.toSeq
      .toDF("_cell", "_centroid", "n_vectors")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(new java.io.File(indexDir, "centroids").getPath)
  }

  /** Delta-dir name → visibility sequence. Base rows are seq 0, so batch
    * dirs map to `batchId + 1` — without the shift, Structured
    * Streaming's FIRST micro-batch (id 0) produced tombstones at seq 0
    * that the `_seq >= _tomb_seq` rule let every base row survive: the
    * delete silently no-opped (r11 adversarial review). Manual dirs
    * carry their literal number (one past every existing seq, from the
    * caller's single listing); accidental manual-vs-batch seq ties are
    * impossible because an index is maintained by exactly ONE of the two
    * APIs ([[requireManualLineage]]/[[requireBatchLineage]]).
    */
  private def dirSeq(name: String): Long = {
    val tail = name.substring(name.lastIndexOf('_') + 1)
    if (tail.startsWith("b")) tail.stripPrefix("b").toLong + 1
    else tail.toLong
  }

  private def deltaDirs(path: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(path).listFiles((f: java.io.File) =>
      f.isDirectory && f.getName.matches("assignments_delta_b?\\d+")))
      .getOrElse(Array.empty[java.io.File])
      .map(f => (dirSeq(f.getName), f))
      .sortBy(_._1).toSeq

  /** Tombstone delta dirs (CDC-driven deletion, VERDICT r10 #7): each is
    * one parquet of deleted ids, sequenced in the SAME number space as
    * the append deltas so delete-then-re-append resolves by order.
    */
  private def tombDirs(path: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(path).listFiles((f: java.io.File) =>
      f.isDirectory && f.getName.matches("tombstones_delta_b?\\d+")))
      .getOrElse(Array.empty[java.io.File])
      .map(f => (dirSeq(f.getName), f))
      .sortBy(_._1).toSeq

  /** An index is maintained by the MANUAL API (appendIvf/deleteIvf) or
    * the BATCH API (appendIvfBatch/deleteIvfBatch), never both: the two
    * number sequences independently (nextSeq vs batchId), and a seq tie
    * across them would make deletion ordering accidental — a delete
    * issued strictly after a manual append could silently fail to hide
    * it (r11 adversarial review). Mixing refuses loudly instead.
    */
  private def requireManualLineage(path: String,
      dirs: Seq[(Long, java.io.File)]): Unit = {
    val hasBatch = dirs.exists(_._2.getName.matches(".*_b\\d+")) ||
      readFoldedBatches(path).nonEmpty
    require(!hasBatch, s"index at $path is batch-maintained " +
      "(appendIvfBatch/deleteIvfBatch) — manual appendIvf/deleteIvf " +
      "would interleave an unrelated sequence; keep one maintenance API")
  }

  private def requireBatchLineage(path: String): Unit = {
    val hasManual = (deltaDirs(path) ++ tombDirs(path))
      .exists(!_._2.getName.matches(".*_b\\d+"))
    require(!hasManual, s"index at $path is manually maintained " +
      "(appendIvf/deleteIvf) — batch ids would interleave an unrelated " +
      "sequence; keep one maintenance API")
  }

  /** INCREMENTAL append: assign `newData` with the index's OWN persisted
    * quantizer (no refit — cells stay stable, which is what makes the
    * append O(batch) instead of O(corpus)) and publish it as one
    * atomically-renamed delta dir, cell-partitioned exactly like the
    * base so search prunes it the same way. The ManifestUpsertStore MOR
    * shape applied to an index: appends are cheap, [[compactIvf]] folds them
    * back. Contract: ids are append-only NEW ids — replacing a vector
    * under an existing id needs a rebuild (the search would return both).
    * Centroid `n_vectors` counts stay base-only until the next compact.
    */
  def appendIvf(path: String, newData: DataFrame): Unit = {
    recoverCrash(path)
    // ONE listing feeds both the lineage guard and the next-seq compute
    val dirs = deltaDirs(path) ++ tombDirs(path)
    requireManualLineage(path, dirs)
    // the sequence counter is SHARED with tombstones: an append landing
    // after a delete must outrank it (deletion is order-resolved)
    appendDelta(path, newData,
      s"assignments_delta_${(dirs.map(_._1) :+ 0L).max + 1}")
  }

  /** Replay-IDEMPOTENT append for streaming maintenance: the delta dir
    * name is a pure function of `batchId`, so a foreachBatch sink that
    * crashed between append and checkpoint commit simply re-publishes the
    * SAME dir on replay — already-published batches are a no-op, and the
    * index converges to exactly-once contents under an at-least-once
    * driver. This is the contract plain [[appendIvf]] cannot give (its
    * sequential naming would duplicate every replayed row).
    *
    * The published marker survives COMPACTION: [[compactIvf]] folds the
    * delta dirs away, but records their batch ids in the index's
    * `_folded_batches.json` (written inside the staged swap, so "deltas
    * gone" and "ids recorded" commit atomically) — a replay arriving
    * after the compact still sees the id and no-ops, instead of
    * re-publishing and duplicating every row of the batch (ADVICE r9:
    * the delta dir's existence alone was the marker, and compaction
    * destroyed it).
    *
    * {{{
    * stream.writeStream.foreachBatch { (batch, id) =>
    *   AnnIndex.appendIvfBatch(path, batch, id)
    * }
    * }}}
    */
  def appendIvfBatch(path: String, newData: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, s"batchId must be non-negative, got $batchId")
    recoverCrash(path)
    requireBatchLineage(path)
    val name = s"assignments_delta_b$batchId"
    if (new java.io.File(path, name).exists() || // replay: still a delta
      readFoldedBatches(path).contains(s"a$batchId")) // replay: compacted
      return
    appendDelta(path, newData, name)
  }

  /** Folded-half entries (`a<id>` = append delta, `t<id>` = tombstone
    * delta) a past [[compactIvf]] folded into the base — the replay
    * high-water record. The two halves of one batch id are recorded
    * SEPARATELY: a compaction that runs between a crashed batch's
    * tombstone publish and its append publish folds only the tombstone
    * half, and the replayed [[appendIvfBatch]] must still land its
    * never-published append — a shared bare-number record made it skip
    * permanently (ADVICE r13, silent data loss under manual compaction
    * interleaved with a crash). Legacy bare-number entries (pre-split
    * indexes) read as both halves folded — exactly what the shared
    * record used to assert. Absent file reads as empty.
    */
  private def readFoldedBatches(path: String): Set[String] = {
    val f = new java.io.File(path, "_folded_batches.json")
    if (!f.exists()) return Set.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    (0 until node.size()).flatMap { i =>
      val e = node.get(i)
      if (e.isNumber) Seq(s"a${e.asLong()}", s"t${e.asLong()}")
      else Seq(e.asText())
    }.toSet
  }

  private def writeFoldedBatches(indexDir: java.io.File,
      ids: Set[String]): Unit =
    java.nio.file.Files.write(
      new java.io.File(indexDir, "_folded_batches.json").toPath,
      ids.toSeq.sortBy(e => (e.drop(1).toLong, e.head))
        .map(e => s""""$e"""").mkString("[", ",", "]")
        .getBytes(StandardCharsets.UTF_8))

  private def appendDelta(path: String, newData: DataFrame,
      dirName: String): Unit = {
    val spark = newData.sparkSession
    val meta = readMeta(spark, path)
    // model/codebooks/base-columns are generation-immutable: served from
    // the artifact cache instead of re-loaded per batch (r19)
    val arts = artifacts(spark, path)
    val tmp = new java.io.File(path, s"${dirName}_tmp")
    rmTree(tmp)
    // appends persist EXACTLY the base layout's data columns (the schema
    // is the record of build-time attrCols) — a batch missing one fails
    // the select loudly instead of forking the layout
    val assigned = assign(arts.model,
      newData.select(arts.dataColumns.map(col): _*),
      meta.idCol, meta.vecCol)
    // a PQ index encodes appends with its PERSISTED codebooks — codes stay
    // comparable to the base's forever (no refit, same as the cells)
    val encoded =
      if (meta.pqM > 0) assigned.withColumn("_code",
        pq_encode(col(meta.vecCol), arts.codebooks))
      else assigned
    encoded
      .write.partitionBy("_cell").mode("overwrite").parquet(tmp.getPath)
    // an empty batch must not publish: a rows-less delta dir (bare
    // _SUCCESS) has no inferable schema and would break every later read
    val wroteCells = Option(tmp.listFiles((f: java.io.File) =>
      f.getName.startsWith("_cell="))).exists(_.nonEmpty)
    if (!wroteCells) { rmTree(tmp); return }
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(path, dirName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Fold every append delta into the base layout (and refresh the
    * centroid counts). Layout-only: search results are IDENTICAL before
    * and after (spec-pinned) — what changes is that the per-query scan
    * goes back to one dir per probed cell. The rewrite stages into a full
    * new index dir and renames over, same publish story as [[buildIvf]].
    */
  def compactIvf(path: String): Unit = {
    import org.apache.spark.ml.clustering.KMeansModel
    recoverCrash(path, cleanDebris = true)
    val src = new java.io.File(path)
    require(src.exists(), s"no ANN index at $path")
    val meta = readMeta(SparkSession.active, path)
    if (deltaDirs(path).isEmpty && tombDirs(path).isEmpty) return
    val spark = SparkSession.active
    val model = artifacts(spark, path).model
    val tmp = new java.io.File(path + "_tmp")
    rmTree(tmp)
    // tombstones FOLD here: the new base holds only visible rows, and the
    // tombstone dirs are not copied into the staged index — deletion
    // becomes physical at the swap (GDPR-grade: the bytes are gone)
    val visible = visibleAssignments(spark, path, meta.idCol)
    val stagedAssign = new java.io.File(tmp, "assignments")
    visible.write.partitionBy("_cell")
      .mode("overwrite").parquet(stagedAssign.getPath)
    // All-deleted case: the partitioned write above emitted ZERO part
    // files (schema-less dir, unreadable). Detected from the dir listing
    // AFTER the single write — not via a visible.isEmpty pre-probe, which
    // doubled the compaction read work whenever tombstones existed
    // (ADVICE r11). The empty rewrite scans an empty plan; one empty
    // unpartitioned file keeps the schema on disk and reads fine (_cell
    // becomes a data column).
    val emittedCells = Option(stagedAssign.listFiles(
      (f: java.io.File) => f.isDirectory && f.getName.startsWith("_cell=")))
      .getOrElse(Array.empty[java.io.File])
    if (emittedCells.isEmpty)
      visible.repartition(1).write.mode("overwrite")
        .parquet(stagedAssign.getPath)
    // the quantizer model is immutable across a compact: copy the bytes
    // instead of an ML-reader load + writer save round trip (r19)
    graft.util.Fs.copyTree(new java.io.File(path, "model"),
      new java.io.File(tmp, "model"))
    writeCentroids(spark, tmp, model,
      new java.io.File(tmp, "assignments").getPath)
    // replay high-water: the batch-named deltas AND batch-named tombstones
    // this compact folds join the already-folded set, INSIDE the staged
    // dir — the swap below makes "delta dirs gone" and "their ids
    // recorded" a single atomic event (appendIvfBatch/deleteIvfBatch's
    // idempotence contract, ADVICE r9)
    writeFoldedBatches(tmp, readFoldedBatches(path) ++
      Option(src.listFiles((_: java.io.File, n: String) =>
        n.matches("(assignments|tombstones)_delta_b\\d+")))
        .getOrElse(Array.empty[java.io.File])
        .map(f => (if (f.getName.startsWith("assignments")) "a" else "t") +
          f.getName.replaceAll("^(assignments|tombstones)_delta_b", "")))
    // a PQ index's codebooks ride along unchanged (codes in the folded
    // assignments were produced by them)
    val cb = new java.io.File(path, "codebooks")
    if (cb.exists()) graft.util.Fs.copyTree(cb, new java.io.File(tmp, "codebooks"))
    // meta is the staged dir's completeness marker — written LAST
    java.nio.file.Files.copy(new java.io.File(path, "_meta.json").toPath,
      new java.io.File(tmp, "_meta.json").toPath)
    swapInto(path, tmp)
  }

  /** Un-folded maintenance debt: count of append-delta plus tombstone
    * dirs (the per-query scan cost [[searchIvf]] pays is one extra dir
    * per entry, and the tombstone anti-filter's broadcast grows with the
    * tombstone side). Driver-side listing — no Spark job.
    */
  def deltaDebt(path: String): Int =
    (deltaDirs(path) ++ tombDirs(path)).size

  /** Debt-count compaction policy — the index twin of
    * [[graft.streaming.ManifestUpsertStore.compactIfNeeded]] (VERDICT r12 #3):
    * fold when the un-compacted dir count reaches `maxDeltas`. Returns
    * whether a compaction ran, so a caller can short-circuit a ratio
    * policy behind it exactly like `CdcStreamJob`'s store maintenance.
    * Racing maintainers resolve naturally: the loser's [[compactIvf]]
    * observes zero remaining debt and no-ops (the ANN index is
    * single-writer by contract — see [[recoverCrash]] — so "race" here
    * means a policy re-check after another call already folded, not a
    * concurrent foreign process).
    */
  def compactIvfIfNeeded(path: String, maxDeltas: Int = 16): Boolean = {
    require(maxDeltas > 0, s"maxDeltas must be positive, got $maxDeltas")
    val due = deltaDebt(path) >= maxDeltas
    if (due) compactIvf(path)
    due
  }

  private def dirBytes(d: java.io.File): Long = {
    val kids = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    kids.map(f => if (f.isDirectory) dirBytes(f) else f.length()).sum
  }

  /** Byte-ratio sibling of [[compactIvfIfNeeded]]: fold when delta +
    * tombstone bytes reach `maxRatio` of the base layout's bytes — the
    * count heuristic misses a few huge backfill deltas costing every
    * probed-cell scan as much as many small ones. Directory listing only,
    * no data read; an empty base with any debt bytes is always due.
    */
  def compactIvfIfDebtRatio(path: String, maxRatio: Double = 0.2): Boolean = {
    require(maxRatio > 0, s"maxRatio must be positive, got $maxRatio")
    val debt = (deltaDirs(path) ++ tombDirs(path))
      .map { case (_, d) => dirBytes(d) }.sum
    val base = dirBytes(new java.io.File(path, "assignments"))
    val due = debt > 0 && (base == 0L || debt.toDouble / base >= maxRatio)
    if (due) compactIvf(path)
    due
  }

  /** The index's persisted id column (from `_meta.json`) — lets a generic
    * maintenance loop split a CDC envelope without the caller re-stating
    * build-time configuration.
    */
  def indexIdCol(spark: SparkSession, path: String): String =
    readMeta(spark, path).idCol

  /** Base ∪ appended deltas, all cell-partitioned. */
  private def allAssignments(spark: SparkSession, path: String): DataFrame =
    deltaDirs(path).foldLeft(
      spark.read.parquet(new java.io.File(path, "assignments").getPath)) {
      case (acc, (_, d)) => acc.unionByName(spark.read.parquet(d.getPath))
    }

  /** Base ∪ deltas with tombstones APPLIED — the rows a search may serve.
    * Visibility: a row is hidden iff its sequence is strictly below the
    * id's highest tombstone sequence (base rows carry seq 0), so a
    * delete hides everything before it and a later re-append of the same
    * id serves again. The tombstone side is the union of the tombstone
    * dirs folded to one (id, max seq) row per deleted id — bounded by
    * delta debt (compaction applies and clears it), hence broadcast: the
    * corpus-side scan never shuffles for deletion.
    */
  private def visibleAssignments(spark: SparkSession, path: String,
      idCol: String): DataFrame = {
    val tombs = tombDirs(path)
    // no tombstones: the plain base-plus-deltas union (also keeps
    // allAssignments as the single definition of that read)
    if (tombs.isEmpty) return allAssignments(spark, path)
    val rows = deltaDirs(path).foldLeft(
      spark.read.parquet(new java.io.File(path, "assignments").getPath)
        .withColumn("_seq", lit(0L))) {
      case (acc, (n, d)) => acc.unionByName(
        spark.read.parquet(d.getPath).withColumn("_seq", lit(n)))
    }
    val tombDf = tombs.map { case (n, d) =>
        spark.read.parquet(d.getPath).withColumn("_tomb_seq", lit(n))
      }.reduce(_.unionByName(_))
      .groupBy(col(idCol)).agg(max(col("_tomb_seq")).alias("_tomb_seq"))
    rows.join(broadcast(tombDf), Seq(idCol), "left")
      .where(col("_tomb_seq").isNull || col("_seq") >= col("_tomb_seq"))
      .drop("_seq", "_tomb_seq")
  }

  /** DELETE vectors by id (the CDC right-to-be-forgotten path): publishes
    * one tombstone delta — O(batch) like an append; no index data is
    * rewritten. Deleted ids disappear from [[searchIvf]]/[[searchIvfPq]]
    * immediately (filtered) and from the physical layout at the next
    * [[compactIvf]] (folded). `ids` is a one-column frame named like the
    * index's id column.
    */
  def deleteIvf(path: String, ids: DataFrame): Unit = {
    recoverCrash(path)
    val dirs = deltaDirs(path) ++ tombDirs(path)
    requireManualLineage(path, dirs)
    publishTombstone(path, ids,
      s"tombstones_delta_${(dirs.map(_._1) :+ 0L).max + 1}")
  }

  /** Replay-idempotent tombstone publish for streaming CDC maintenance —
    * the deletion twin of [[appendIvfBatch]]: dir name is a pure function
    * of `batchId`; an existing dir or an already-folded batch id no-ops.
    * A CDC micro-batch applies as delete-batch THEN append-batch under
    * the same id: the folded batch has one row per key, appends sequence
    * at the same number as the tombstone, and visibility is
    * `seq >= tombstone seq` — so a batch that replaces a key's vector
    * hides the old row and serves the new one.
    */
  def deleteIvfBatch(path: String, ids: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, s"batchId must be non-negative, got $batchId")
    recoverCrash(path)
    requireBatchLineage(path)
    val name = s"tombstones_delta_b$batchId"
    if (new java.io.File(path, name).exists() ||
      readFoldedBatches(path).contains(s"t$batchId"))
      return
    publishTombstone(path, ids, name)
  }

  private def publishTombstone(path: String, ids: DataFrame,
      dirName: String): Unit = {
    val meta = readMeta(ids.sparkSession, path)
    val tmp = new java.io.File(path, s"${dirName}_tmp")
    rmTree(tmp)
    ids.select(col(meta.idCol)).distinct().coalesce(1)
      .write.mode("overwrite").parquet(tmp.getPath)
    // an EMPTY delete batch must not publish (it would add one dir read
    // per search and one debt unit for nothing). Emptiness is read from
    // the written part's parquet FOOTER — driver-side metadata — instead
    // of the r19 pre-write isEmpty, which was a Spark job per micro-batch
    // over the very frame the write then re-ran (r20, guide §1.2/§6).
    if (graft.util.Fs.parquetRowCount(tmp) == 0L) { rmTree(tmp); return }
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(path, dirName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Real JSON via the Jackson Spark ships — substring splitting silently
    * misparsed column names containing quotes or keys that suffix another
    * key (ADVICE r9), and writing them unescaped corrupted the file.
    */
  private def jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def writeMeta(indexDir: java.io.File, m: Meta): Unit = {
    val node = jsonMapper.createObjectNode()
    // monotonic generation token for the artifact cache (r20, ADVICE r19
    // #2): a fresh UUID per meta write, so two builds at the same path
    // can never alias — unlike filesystem mtime, whose resolution can be
    // 1s. compactIvf COPIES the meta byte-for-byte, which is correct:
    // the quantizer/codebooks it serves are byte-identical across a
    // compaction, so the cached artifacts stay valid.
    node.put("gen", java.util.UUID.randomUUID().toString)
    node.put("idCol", m.idCol)
    node.put("vecCol", m.vecCol)
    node.put("numCells", m.numCells)
    node.put("seed", m.seed)
    node.put("fitSampleSize", m.fitSampleSize)
    node.put("pqM", m.pqM)
    node.put("pqKsub", m.pqKsub)
    java.nio.file.Files.write(new java.io.File(indexDir, "_meta.json").toPath,
      jsonMapper.writeValueAsString(node).getBytes(StandardCharsets.UTF_8))
  }

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val f = new java.io.File(path, "_meta.json")
    require(f.exists(), s"no ANN index at $path (missing _meta.json)")
    val n = jsonMapper.readTree(f)
    def req(k: String) = {
      val v = n.get(k)
      require(v != null, s"ANN index meta at $path lacks key $k")
      v
    }
    def opt(k: String) = Option(n.get(k)).map(_.asInt()).getOrElse(0)
    Meta(req("idCol").asText(), req("vecCol").asText(),
      req("numCells").asInt(), req("seed").asLong(),
      req("fitSampleSize").asInt(), opt("pqM"), opt("pqKsub"))
  }

  /** Top-k cosine search against a persisted index. Reads only the probed
    * cells' dirs; `search ≡ ivfTopK` for equal parameters (spec-pinned).
    */
  /** @param where optional FILTERED-SEARCH predicate over the index's
    *   persisted columns (the id column and any build-time `attrCols`) —
    *   applied to the probed-cell scan BEFORE top-k, so the k results are
    *   the best among QUALIFYING vectors (post-filtering top-k output
    *   would under-fill instead). The predicate pushes into the parquet
    *   scan of the probed cells; tombstone filtering composes on top.
    *   RECALL CAVEAT at partial nprobe: the filter shrinks each probed
    *   cell's candidate pool, so a selective predicate needs a larger
    *   `nprobe` to keep recall (the qualifying neighbors may live in
    *   cells the unfiltered ranking would not probe) — the standard
    *   filtered-ANN trade, on the caller's knob.
    * @param bruteForcePoolPerCell the SELECTIVE-PREDICATE HATCH (r14,
    *   VERDICT r13 #4 — the operator form of SCALING §23's recall-table
    *   guidance): when `where` is set, one column-pruned count of the
    *   qualifying rows runs first, and if the average per-cell qualifying
    *   pool falls below this threshold the search scans the ENTIRE
    *   qualifying subset exactly instead of probing. What the hatch buys
    *   is EXACTNESS where probing under-recalls catastrophically (the
    *   §23 table: 0.073-0.57 recall at 1/100 selectivity, partial
    *   nprobe); what it costs is the decision count plus the tiny subset
    *   scan — measured at ~+0.2 s over the probed path on local[32]
    *   corpora up to 1M×64d (SCALING §24: job overhead dominates local
    *   scans, so the byte savings don't show as wall time there). 0
    *   disables the hatch (always probe). The hatch returns exact
    *   filtered top-k, so at degenerate-exact configs the two paths
    *   produce identical rows.
    */
  def searchIvf(path: String, queries: DataFrame, queryIdCol: String,
      k: Int, nprobe: Int = 4, where: Option[Column] = None,
      bruteForcePoolPerCell: Double = 10.0): DataFrame = {
    val spark = queries.sparkSession
    ensureLive(path)
    val meta = readMeta(spark, path)
    filteredBruteForceHatch(spark, path, meta, queries, queryIdCol, k,
      where, bruteForcePoolPerCell) match {
      case Some(exact) => return exact
      case None =>
    }
    val cellDf = broadcast(
      spark.read.parquet(new java.io.File(path, "centroids").getPath)
        .select(col("_cell"), col("_centroid")))
    val q = queries.select(col(queryIdCol).alias("query_id"),
      col(meta.vecCol).alias("_qvec"))
    val probes = q.crossJoin(cellDf)
      .withColumn("_csim", cosine_sim(col("_qvec"), col("_centroid")))
      .withColumn("_rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("_csim").desc, col("_cell"))))
      .where(col("_rnk") <= nprobe)
      .select(col("query_id"), col("_qvec"), col("_cell"))
      .localCheckpoint(true) // probed twice below: cell-union + join
    // the UNION of probed cells becomes a partition filter — unprobed
    // cell dirs are never opened, in the base AND in every append delta.
    // Bounded driver collect: ≤ numCells ints.
    val probedCells = probes.select(col("_cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val visible = visibleAssignments(spark, path, meta.idCol)
      .where(col("_cell").isin(probedCells: _*))
    val indexed = where.fold(visible)(visible.where)
    val scored = indexed.join(broadcast(probes),
        indexed("_cell") === probes("_cell") &&
          col(meta.idCol) =!= col("query_id"))
      .select(col("query_id"), col(meta.idCol).alias("neighbor_id"),
        cosine_sim(col(meta.vecCol), col("_qvec")).alias("cosine"))
    Similarity.topKPerQuery(scored, k)
  }
}
