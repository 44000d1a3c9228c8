package graft.operators

import graft.CacheLedger.Tracked
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (driver north star).
  *
  * Scale story: brute-force cosine is the exact baseline — a broadcast of
  * the (small) query set against a full scan, embarrassingly parallel, no
  * shuffle. The random-hyperplane LSH variant buckets vectors so each probe
  * touches ~N/2^H candidates — the 100 TB path where even one full scan per
  * query batch is too hot. Dot products are sequential left-to-right folds
  * in double precision → bit-deterministic, oracle-comparable.
  */
object Similarity {

  /** Cosine similarity of two ARRAY<DOUBLE> columns — native codegen'd
    * Catalyst expression (tight primitive loop inside whole-stage codegen).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine_sim(a, b)

  /** The composable higher-order-function formulation (interpreted; kept as
    * the reference implementation — bit-identical accumulation order).
    */
  def cosineFold(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (acc, x) => acc + x))
    dot / (na * nb)
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k of an explicit (small) query set over an arbitrary corpus
    * DataFrame — the building block behind [[bruteForceTopK]] and filtered
    * vector search: broadcast the query vectors, scan the corpus once,
    * per-query window top-k (WindowGroupLimit keeps the shuffle small).
    * Self-matches excluded. The corpus side may carry any pre-filter
    * (metadata predicates, semi-joins) — it stays the streamed side.
    */
  def topKOver(corpusDf: DataFrame, queriesDf: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val corpus = corpusDf.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val queries = queriesDf.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(cosine(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "vec_id", "cos", "rn")
      .orderBy("qid", "rn")
  }

  /** Filtered vector search: restrict the corpus to `keepIds` (any
    * DataFrame carrying `idCol`) via a PINNED shuffle semi-join before
    * scoring — at 100 TB a metadata-filtered id set of a fact-scale table
    * is itself fact-scale, so broadcasting it is the same trap as
    * broadcasting a filtered fact table; with an id-bucketed layout the
    * semi-join co-partitions and costs one id-only shuffle.
    */
  def topKOverIds(df: DataFrame, keepIds: DataFrame, queriesDf: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKOver(df.join(keepIds.hint("shuffle_hash"), Seq(idCol), "left_semi"),
      queriesDf, k, idCol, vecCol)

  /** Exact top-k neighbours for the given query ids over the whole corpus. */
  def bruteForceTopK(df: DataFrame, queryIds: Seq[Long], k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = df.select(col(idCol), col(vecCol))
    topKOver(base, base.filter(col(idCol).isin(queryIds: _*)), k, idCol, vecCol)
  }

  /** All embedding near-duplicate pairs with cosine >= tau — exact, via a
    * BLOCKED all-pairs join rather than a nested-loop cartesian.
    *
    * Exact all-pairs at a low tau in high dimensions is inherently Θ(n²)
    * compute (the candidate set IS all pairs; measured on the testdata:
    * cluster radii ~1.6 exceed inter-centroid distances ~1.4, so no metric
    * bound prunes anything at tau=0.4). What CAN be fixed is the plan shape:
    * a BroadcastNestedLoopJoin ships one entire side to every executor and
    * serializes the pair loop per partition. Instead we tile: rows are
    * hashed into `blocks` buckets, a tiny (blocks·(blocks+1)/2)-row
    * block-pair table is broadcast, and the pair computation becomes an
    * equi-join on the block id — every task owns one (ba, bb) tile with
    * bounded memory (2·n/blocks rows), replication is O(n·blocks/2) instead
    * of O(n·executors), and the shuffle is hash-partitioned, AQE-splittable,
    * and skew-free. At 100 TB, `blocks` scales with the cluster so tiles
    * stay cache-sized. The LSH variants remain the approximate scale path
    * when Θ(n²) itself is unaffordable.
    *
    * Pair uniqueness: row x lands on the A side of tiles (blk_x, j≥blk_x)
    * and the B side of tiles (i≤blk_x, blk_x). An unordered pair {x,y}
    * matches exactly once under `ba < bb OR id_a < id_b`; ids are
    * canonicalized with least/greatest for the output.
    */
  def nearDupPairs(df: DataFrame, tau: Double, blocks: Int = 16,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val ss = df.sparkSession
    import ss.implicits._
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("blk", pmod(hash(col("id")), lit(blocks)))
    val blockPairs = broadcast(
      (for { i <- 0 until blocks; j <- i until blocks } yield (i, j)).toDF("ba", "bb"))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"), col("blk"))
      .join(blockPairs, col("blk") === col("ba"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"), col("blk").as("blk_b"))
    // the b side is the WHOLE corpus: bench-scale statistics elect a full
    // broadcast (OOM at 100×) — pin the spillable sort-merge join (a hash
    // build of one n/blocks block of vectors also outgrows task memory)
    a.join(b.hint("merge"), col("bb") === col("blk_b") &&
        (col("ba") < col("bb") || col("id_a") < col("id_b")))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= tau)
      // cache the (small) result BEFORE the global sort: a range sort's
      // sampling pass otherwise re-executes the whole Θ(n²) tile join a
      // second time (RangePartitioner samples the child, then the sort
      // reads it again — shuffle stages are reused, narrow stages are not)
      .trackedCache
      .orderBy("id_a", "id_b")
  }

  /** Symmetric int8 quantization summary per embedding: scale = 127/max|v|
    * (0 for the zero vector), plus the L1 norm of the quantized vector as
    * an integrity scalar. The arithmetic is chosen to be bit-mirrorable in
    * ANSI SQL (double products identical on both engines, round-half-away
    * identical), so the oracle check is exact. The quantized array itself
    * is what a vector store would persist (4× smaller than float32); the
    * summary columns are what the oracle can hash.
    */
  def quantizeInt8(df: DataFrame,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      // materialize max|v| and the scale before the per-element fan-out
      // (HOFs re-evaluate argument subtrees per lambda application)
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", when(col("mx") > 0, lit(127.0) / col("mx")).otherwise(lit(0.0)))
    base.select(col("vec_id"),
      round(col("scale"), 6).as("qscale"),
      aggregate(transform(col("v"), x => abs(round(x * col("scale")))),
        lit(0.0), (acc, x) => acc + x).cast("long").as("q_l1"))
      .orderBy("vec_id")
  }

  /** Per-label embedding-quality OUTLIERS: each vector's cosine to its
    * label's centroid, bottom-k per label (most dissimilar first, vec_id
    * tiebreak) — the mislabeled/garbage-embedding screen run before
    * training on labeled embeddings, and the per-cluster cousin of the
    * SemDeDup within-cluster pass (there: drop the most similar; here:
    * surface the least).
    *
    * EXACT cross-engine centroid: a per-dimension float MEAN depends on
    * summation order, so the centroid is the per-dim SUM of µ-quantized
    * coordinates (`round(x·1e6)` as long — order-independent integer
    * addition). Cosine is scale-invariant, so the un-divided sum vector
    * ranks identically to the mean vector, and both engines compute the
    * cosine from identical operands in identical order — the oracle is
    * hash-exact with no tolerance band.
    *
    * Scale shape: the quantized fan-out is one scan-stage posexplode of
    * three slim columns; the (label, dim) sums are a two-phase hash agg;
    * the resulting n_labels × dim table is MODEL-PARAMETER scale, so it
    * collects to the driver and re-enters as a literal-backed broadcast
    * (the [[trainCellsCached]] precedent) — the corpus-side join then
    * broadcasts a scan-free local relation instead of shuffling 100 TB
    * on an n_labels-value key (the label-keyed shuffle would funnel the
    * corpus into n_labels partitions). The bottom-k compiles to the
    * partial+final WindowGroupLimit, so the low-cardinality label window
    * moves ≤ k·partitions rows, never the corpus.
    */
  def labelCentroidOutliers(df: DataFrame, k: Int = 5,
                            vecCol: String = "embedding", idCol: String = "vec_id",
                            labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"bottom-k must be positive, got $k")
    val sp = df.sparkSession
    import sp.implicits._
    val qv = transform(col(vecCol), x => round(x.cast("double") * 1e6).cast("long"))
    val centRows: Seq[(Long, Seq[Double])] = df
      .select(col(labelCol).cast("long").as("__lco_lbl"),
        posexplode(qv).as(Seq("__lco_dim", "__lco_q")))
      .groupBy("__lco_lbl", "__lco_dim").agg(sum("__lco_q").as("__lco_s"))
      .groupBy("__lco_lbl")
      .agg(transform(
        array_sort(collect_list(struct(col("__lco_dim"), col("__lco_s")))),
        s => s.getField("__lco_s").cast("double")).as("__lco_cent"))
      .as[(Long, Seq[Double])].collect().toSeq
    val centDf = centRows.toDF("__lco_lbl", "__lco_cent")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("__lco_cos").asc, col(idCol).asc)
    df.select(col(idCol), col(labelCol).cast("long").as("label"), col(vecCol))
      .join(broadcast(centDf), col("label") === col("__lco_lbl"))
      .withColumn("__lco_cos", cosine(asDouble(col(vecCol)), col("__lco_cent")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("label"), col(idCol),
        round(col("__lco_cos"), 6).as("cos_centroid"),
        col("rk").cast("long").as("rk"))
  }

  /** Deterministic pseudo-random unit-ish hyperplanes (fixed seed). */
  private def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: one bit per hyperplane (sign of the projection).
    * Projections are native codegen'd dot products — the interpreted
    * `aggregate(zip_with(...))` fold cost 32 lambda-interpreter passes per
    * row across the 8 tables and was the r2 bench regression.
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val proj = graft.functions.VectorExpressions.dot_product(vec, array(p.map(lit): _*))
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Approximate top-k: MULTI-TABLE random-hyperplane LSH — `tables`
    * independent hash tables of `nPlanes` sign bits each; a corpus vector is
    * a candidate if it shares a bucket with the query in ANY table (the
    * standard recall amplification: P = 1-(1-p^H)^L). Recall < 1 by
    * construction — the scale path trading exactness for a per-table
    * 2^nPlanes candidate reduction. At 100 TB the per-table bucket ids are
    * precomputed once at ingest and the probe is an L-way bucket join, never
    * a scan.
    */
  def annTopK(df: DataFrame, queryIds: Seq[Long], k: Int, dim: Int,
              nPlanes: Int = 4, tables: Int = 8, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planeSets = (0 until tables).map(t => hyperplanes(dim, nPlanes, seed + t))
    val base = df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val buckets = array(planeSets.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("tbl"), lshBucket(col("v"), planes).as("bkt"))
    }: _*)
    // the bucket index carries ONLY (id, tbl, bkt): vector payloads stay
    // out of the candidate join and the multi-table dedup. r2's plan
    // distinct'ed on the full (qid, vec_id, qv, v) tuple — a shuffle of
    // 128 doubles per candidate plus interpreted array normalization,
    // where the 16-byte id pair suffices.
    val bucketed = base.select(col("vec_id"), explode(buckets).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val qbuckets = bucketed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("tbl"), col("bkt"))
    val cand = bucketed.join(broadcast(qbuckets), Seq("tbl", "bkt"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
      .distinct() // a pair may collide in several tables — id-only dedup
    // rescore: candidate ids pull their vectors back in — pinned
    // sort-merge (at toy scale statistics flip to broadcasting the
    // unfiltered base corpus instead, an OOM at 100×; the candidate list
    // scales with query count × bucket density, so no hash build either);
    // query vectors are a genuine broadcast dim table
    val qvecs = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = cand.hint("merge").join(base, Seq("vec_id"))
      .join(broadcast(qvecs), Seq("qid"))
      .select(col("qid"), col("vec_id"), round(cosine(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "vec_id", "cos", "rn")
      .orderBy("qid", "rn")
  }

  /** Train IVF coarse-quantizer centroids with k-means (MLlib: k-means||
    * init, fixed seed → deterministic for a given input). The centroid set
    * is tiny (k·dim doubles) and collected to the driver BY DESIGN — it is
    * broadcast into the assignment expression, exactly like any dimension
    * table; the training itself is distributed Lloyd's iterations. At
    * 100 TB one trains on a sample and assigns the full corpus in a single
    * scan (assignment is a pure map — see [[cellOf]]).
    */
  def trainCells(df: DataFrame, k: Int, maxIter: Int = 10, seed: Long = 42L,
                 vecCol: String = "embedding"): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // cache for the duration of the Lloyd's iterations only (k-means scans
    // its input once per iteration; uncached it would re-read parquet and
    // re-convert every pass)
    val feat = df.select(array_to_vector(asDouble(col(vecCol))).as("features")).cache()
    try new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed)
      .fit(feat).clusterCenters.map(_.toArray)
    finally feat.unpersist(blocking = false)
  }

  /** Memo of trained centroids, keyed by the input's files +
    * hyperparameters — in-process map first, then a persisted centroid
    * parquet. An IVF index is built ONCE at ingest and probed by every
    * query — retraining per query (or per JVM: every verify/bench run is
    * a fresh process) would misrepresent both the design and the cost
    * model. The production shape is exactly this: the centroid table
    * lives next to the data, keyed by the corpus fingerprint; here the
    * cache dir is SPARK_GRAFT_IVF_CACHE (default under java.io.tmpdir).
    * The key includes `df.inputFiles`, so a different dataset (or a
    * rewritten one) trains fresh; determinism comes from the fixed seed.
    * Only file-backed inputs persist to disk (an in-memory frame's
    * fingerprint does not survive the JVM).
    */
  private val cellCache =
    new java.util.concurrent.ConcurrentHashMap[(Seq[String], Int, Int, Int, Long, String),
      Array[Array[Double]]]()

  /** Count of actual k-means fits this JVM (test/diagnostic hook). */
  private[graft] val kmeansFits = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def clearCellMemo(): Unit = cellCache.clear()

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** In-process memo key = files + the analyzed plan's semantic hash:
    * inputFiles alone is empty for in-memory frames and identical for a
    * filtered subset of the same files — either would silently share
    * centroids across different datasets. JVM-local only: semanticHash is
    * NOT stable across processes (see [[centroidDiskKey]]).
    */
  private[graft] def centroidKey(df: DataFrame, k: Int, maxIter: Int, seed: Long,
                                 vecCol: String): (Seq[String], Int, Int, Int, Long, String) =
    (df.inputFiles.toSeq.sorted, df.queryExecution.analyzed.semanticHash(),
      k, maxIter, seed, vecCol)

  /** DISK key — must be identical across JVM runs or the persisted cache
    * never hits (its whole purpose). `semanticHash` cannot be used here:
    * it hashes through `HadoopFsRelation.fileFormat`, and
    * `ParquetFileFormat.hashCode` is `getClass().hashCode()` — a per-JVM
    * identity hash. Use the sorted input files plus the CANONICALIZED
    * plan string (expression ids normalized, no object hashes), which
    * still distinguishes a filtered/projected subset of the same files.
    */
  private[graft] def centroidDiskKey(df: DataFrame, k: Int, maxIter: Int, seed: Long,
                                     vecCol: String): String = {
    val plan = df.queryExecution.analyzed.canonicalized.toString
    s"${df.inputFiles.toSeq.sorted.mkString(",")}|$plan|$k|$maxIter|$seed|$vecCol"
  }

  private[graft] def centroidCachePath(diskKey: String): String = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_IVF_CACHE",
      sys.props("java.io.tmpdir") + "/graft_ivf_cache")
    s"$dir/centroids_${md5hex(diskKey)}.parquet"
  }

  def trainCellsCached(df: DataFrame, k: Int, maxIter: Int = 10, seed: Long = 42L,
                       vecCol: String = "embedding"): Array[Array[Double]] = {
    val key = centroidKey(df, k, maxIter, seed, vecCol)
    cellCache.computeIfAbsent(key, _ => {
      val ss = df.sparkSession
      val persistable = key._1.nonEmpty
      val path = centroidCachePath(centroidDiskKey(df, k, maxIter, seed, vecCol))
      def readBack(): Option[Array[Array[Double]]] =
        if (!persistable || !new java.io.File(path).exists()) None
        else scala.util.Try {
          val rows = ss.read.parquet(path).orderBy("cell").collect()
          rows.map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
        }.toOption.filter(_.length == k)
      readBack().getOrElse {
        kmeansFits.incrementAndGet()
        val cents = trainCells(df, k, maxIter, seed, vecCol)
        if (persistable) scala.util.Try { // best effort: cache write only
          import ss.implicits._
          cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
            .toDF("cell", "centroid")
            .repartition(1).write.mode("overwrite").parquet(path)
        }
        cents
      }
    })
  }

  /** Nearest-centroid cell id for a vector column — argmin ‖v−c‖² =
    * argmax (v·c − ‖c‖²/2), ties to the smallest cell id. One native
    * [[graft.functions.VectorExpressions.NearestCells]] node carrying
    * the centroid matrix as a reference object: assignment is a
    * codegen'd map with O(1) plan size in k (r8 — the previous
    * expression-per-centroid formulation pinned the driver in Catalyst
    * at the k≈800 an honest ×100 IVF needs; see the expression's
    * scaladoc), no shuffle, no UDF.
    */
  def cellOf(vec: Column, cents: Array[Array[Double]]): Column =
    element_at(graft.functions.VectorExpressions.nearest_cells(vec, cents, 1), 1)

  /** Each query's `nprobe` nearest cell ids, descending score (same
    * native node; explode for (vector, cell) probe rows).
    */
  private def probeCells(vec: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    graft.functions.VectorExpressions.nearest_cells(vec, cents, nprobe)

  /** Embedding near-duplicate pairs via trained-IVF cells — the SemDeDup
    * shape (Abbas et al. 2023, arXiv:2303.09540: k-means-cluster the
    * corpus, compare pairs only inside a cluster): assign every vector to
    * its nearest cell(s), generate candidates by an equi-join on the cell
    * id, exact-rescore with the native cosine. Compared to the exact
    * blocked all-pairs ([[nearDupPairs]]), compute drops from Θ(n²) to
    * Θ(Σ n_c²) ≈ n²/cells on clustered data — and embedding corpora are
    * clustered (that is why semantic dedup works at all). At low tau,
    * sign-LSH does NOT help (a 66° similarity cone collides most of the
    * sphere), so cells are the honest scale path for this operator.
    *
    * Recall < 1 by construction: a pair straddling a cell boundary is
    * missed. `nassign` > 1 assigns each vector to its `nassign` nearest
    * cells (multi-assignment), catching boundary pairs at a proportional
    * candidate cost — the standard recall amplification knob. Covered by
    * a recall-floor unit vs the exact pairs, not an equality oracle.
    */
  def ivfNearDupPairs(df: DataFrame, tau: Double, cells: Int = 8, nassign: Int = 1,
                      maxIter: Int = 10, seed: Long = 42L,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = trainCellsCached(df, cells, maxIter, seed, vecCol)
    val base = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val assigned =
      if (nassign <= 1) base.withColumn("cell", cellOf(col("v"), cents))
      else base
        .select(col("id"), col("v"), explode(probeCells(col("v"), cents, nassign)).as("cell"))
    val left = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("v_a"))
    val right = assigned.select(col("cell"), col("id").as("id_b"), col("v").as("v_b"))
    left.join(right, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= tau)
      // multi-assignment can surface the same pair from two shared cells;
      // dedup on the (long, long) id pair AFTER the tau filter, where the
      // row set is verified-pair-sized
      .dropDuplicates("id_a", "id_b")
      // cache before the global sort (range-sort sampling re-executes the
      // narrow verify stage otherwise — same note as nearDupPairs)
      .trackedCache
      .orderBy("id_a", "id_b")
  }

  /** IVF top-k over TRAINED centroids: assign every corpus vector to its
    * nearest cell (one codegen'd scan — at ingest time in production, so
    * queries join against a cell-bucketed layout), probe each query's
    * `nprobe` nearest cells, exact-rescore only the probed candidates.
    * Approximate by construction (recall < 1 when the true neighbour lives
    * in an unprobed cell) — covered by a recall floor vs brute force in
    * SimilaritySpec rather than an equality oracle.
    */
  def ivfTopKTrained(df: DataFrame, queryIds: Seq[Long], k: Int,
                     cells: Int = 16, nprobe: Int = 3, seed: Long = 42L,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = trainCellsCached(df, cells, seed = seed, vecCol = vecCol)
    val corpus = df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("cell", cellOf(col("v"), cents))
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(probeCells(col("v"), cents, nprobe)).as("cell"))
    val scored = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(cosine(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "vec_id", "cos", "rn")
      .orderBy("qid", "rn")
  }

  /** IVF-style variant using precomputed labels as the coarse quantizer
    * (the testdata's `label` plays the centroid-assignment role): probe
    * only the query's cell. The production analog trains centroids with
    * k-means ([[ivfTopKTrained]]); cell assignment is then an argmin over
    * centroid dots.
    */
  def ivfTopK(df: DataFrame, queryIds: Seq[Long], k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              cellCol: String = "label"): DataFrame = {
    val corpus = df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"),
      col(cellCol).as("cell"))
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cell"))
    val scored = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(cosine(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "vec_id", "cos", "rn")
      .orderBy("qid", "rn")
  }
  // ---------------------------------------------------------------- PQ --

  /** Product-quantization codebooks (Jégou, Douze & Schmid 2011, IEEE
    * TPAMI, "Product quantization for nearest neighbor search"): L2-
    * normalize, split the dimension into `m` subspaces, k-means each
    * subspace to `ksub` centroids. The codebooks are model parameters —
    * m·ksub·(dim/m) doubles (4 KiB at the defaults here), trained once at
    * index build like the IVF centroids; the in-process memo mirrors
    * [[trainCellsCached]] (keyed by input files + hyperparameters, bypass
    * for file-less frames whose fingerprint cannot outlive the JVM).
    * Normalizing BEFORE encoding makes the ADC inner product approximate
    * cosine exactly, so recall is measured against the same brute-force
    * cosine ranking every other ANN operator here answers to.
    */
  def trainPq(df: DataFrame, m: Int = 4, ksub: Int = 16, maxIter: Int = 10,
              seed: Long = 42L, vecCol: String = "embedding"): Array[Array[Array[Double]]] =
    trainPqResidual(df, m, ksub, 1, maxIter, seed, vecCol).head

  /** Multi-level RESIDUAL PQ codebooks (residual vector quantization —
    * Chen, Guan & Wang 2010, "Approximate nearest neighbor search by
    * residual vector quantization"; the refinement idea of Jégou et
    * al.'s ADC+R applied at the code level): level 1 quantizes each
    * subspace of the unit vector exactly as [[trainPq]]; every further
    * level quantizes the REMAINING RESIDUAL of the same subspace with a
    * fresh ksub-codebook. Each level multiplies the code space (ksub^m
    * per level) while the training stays m·levels independent k-means —
    * this is the honest lift for the NEAR-UNIFORM corpus, the PQ worst
    * case, where an OPQ rotation provably cannot help (a uniform
    * direction distribution is rotation-invariant) and coarse-residual
    * IVF barely dents the residual norm. Level-1 seeds match
    * [[trainPq]]'s, so `levels = 1` reproduces the single-level
    * codebooks bit-for-bit.
    */
  def trainPqResidual(df: DataFrame, m: Int = 4, ksub: Int = 16, levels: Int = 2,
                      maxIter: Int = 10, seed: Long = 42L,
                      vecCol: String = "embedding"): Seq[Array[Array[Array[Double]]]] = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(m >= 1 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(ksub >= 2 && ksub <= 256, s"ksub $ksub outside the code-byte range")
    require(levels >= 1 && levels <= 4, s"levels $levels outside 1..4")
    val dsub = dim / m
    val unit = unitVec(asDouble(col(vecCol)))
    (0 until levels).foldLeft(Vector.empty[Array[Array[Array[Double]]]]) { (books, l) =>
      books :+ (0 until m).map { s =>
        // distinct seed per (level, subspace): separate quantizers
        val sub = slice(unit, s * dsub + 1, dsub)
        trainCells(df.select(residualCol(sub, books.map(_(s))).as(vecCol)),
          ksub, maxIter, seed + l * m + s, vecCol)
      }.toArray
    }
  }

  /** A subspace vector minus its per-level codebook reconstructions —
    * the quantization residual the next level trains on and encodes. */
  private def residualCol(sub: Column, books: Seq[Array[Array[Double]]]): Column =
    books.foldLeft(sub) { (r, cb) =>
      zip_with(r,
        element_at(typedLit(cb.map(_.toSeq).toSeq), cellOf(r, cb) + 1),
        (x, c) => x - c)
    }

  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[
      (Seq[String], Int, Int, Int, Int, Long, String),
      Seq[Array[Array[Array[Double]]]]]()

  def trainPqCached(df: DataFrame, m: Int = 4, ksub: Int = 16, levels: Int = 1,
                    maxIter: Int = 10, seed: Long = 42L,
                    vecCol: String = "embedding"): Seq[Array[Array[Array[Double]]]] = {
    val files = df.inputFiles.toSeq.sorted
    if (files.isEmpty) trainPqResidual(df, m, ksub, levels, maxIter, seed, vecCol)
    else pqCache.computeIfAbsent((files, m, ksub, levels, maxIter, seed, vecCol),
      _ => trainPqResidual(df, m, ksub, levels, maxIter, seed, vecCol))
  }

  /** `v / ||v||` (zero vector passes through as zeros). */
  private def unitVec(v: Column): Column = {
    val norm = sqrt(aggregate(v, lit(0.0d), (a, x) => a + x * x))
    transform(v, x => when(norm > 0.0d, x / norm).otherwise(lit(0.0d)))
  }

  /** Encode every vector as its `m` subspace code ids — the persisted PQ
    * index: m small ints per vector instead of dim floats (a 64× payload
    * cut at the defaults on float32 corpora), which is what makes
    * billion-vector ANN memory-feasible. Map-only.
    */
  def pqEncode(df: DataFrame, codebooks: Array[Array[Array[Double]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqEncodeResidual(df, Seq(codebooks), idCol, vecCol)

  /** Residual-PQ encoding: m·levels code ids per vector, level-major —
    * level 1's m subspace codes, then each level's residual codes. Still
    * a few small ints against dim floats (8 ints at the two-level
    * defaults — a 32× payload cut on float32 corpora). ONE native
    * [[graft.functions.VectorExpressions.PqEncode]] node per row:
    * normalize once, all levels×subspaces in a single codegen'd JVM
    * pass, codebooks as one reference object — the Column composition
    * this replaced re-derived the unit vector (with its norm aggregate
    * trapped inside an interpreted lambda, O(dim²)) for every one of
    * the m·levels codes, measured 4 ms/row at sf0.1. Map-only.
    */
  def pqEncodeResidual(df: DataFrame, books: Seq[Array[Array[Array[Double]]]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("vec_id"),
      graft.functions.VectorExpressions.pq_encode(asDouble(col(vecCol)), books)
        .as("codes"))

  /** PQ ANN top-k: asymmetric distance computation plus the standard
    * refine stage (Jégou et al.'s ADC+R). Stage 1 scores every corpus
    * vector from its codes alone via a per-query m×ksub lookup table of
    * partial inner products — the scan never touches the embedding
    * column, and the query batch's LUTs enter the plan as ONE literal
    * array exploded inside the projection: scan → generate → codegen'd
    * zip_with/aggregate → rank window, no join node. Stage 2 collects
    * the `refine`-deep shortlist (bounded: |queries|·refine id pairs —
    * the limit-probe precedent), re-reads ONLY those vectors through a
    * pushed-down id filter, and rescores them with the exact cosine —
    * again via a literal map explode, so the whole operator runs with
    * zero joins and zero shuffles beyond the two k-row rank windows. At
    * 100 TB: stage 1 reads m bytes per vector (the 64× index
    * compression PQ exists for), stage 2 is a point-lookup-sized read.
    * Approximate by construction (the true neighbour can miss the
    * shortlist) — golden-pinned on the roster, recall floor vs the
    * exact brute-force cosine in SimilaritySpec plus a hard
    * uniform-corpus gate in RecallGateSpec.
    *
    * `levels` (default 2) is [[trainPqResidual]]'s residual-quantization
    * depth: the ADC score sums one LUT per level, so the scan stays
    * m·levels byte lookups per vector. Two levels lifted the
    * near-uniform-corpus mean recall@10 from 0.505 to 0.695 at the
    * defaults (three: 0.815; sf0.001 embeddings, 20 queries; the uniform
    * regime is where single-level subspace codebooks are structurally
    * blind).
    * `levels = 1` is the r12 single-level behavior, kept as the recall
    * gate's starved control.
    */
  def pqTopK(df: DataFrame, queryIds: Seq[Long], k: Int,
             m: Int = 4, ksub: Int = 16, refine: Int = 50,
             maxIter: Int = 10, seed: Long = 42L, levels: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(refine >= k, s"refine depth $refine below k=$k")
    val books = trainPqCached(df, m, ksub, levels, maxIter, seed, vecCol)
    val dsub = books.head(0)(0).length
    // the codes frame IS the PQ index — materialize it (ledger-scoped)
    // before the per-query explode. Without the barrier CollapseProject
    // inlines the encode trees into the ADC projection, and the
    // higher-order zip_with/aggregate context is INTERPRETED, so every
    // (vector × query) row would re-derive its codes through the full
    // nested quantizer expressions: measured 8.6s vs 0.3s for the whole
    // ADC stage at sf0.1 (local[32]). Production persists this
    // frame once at index build; here it lives for the call.
    val codes = pqEncodeResidual(df, books, idCol, vecCol).trackedCache
    // bounded query-vector fetch (the bruteForceTopK precedent), then the
    // LUT math runs on the driver against model parameters only
    val qvecs = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect().map { r =>
        val qv = r.getSeq[Double](1).toArray
        val n = math.sqrt(qv.map(x => x * x).sum)
        (r.getLong(0), if (n > 0) qv.map(_ / n) else qv)
      }
    // one LUT row per (level, subspace), level-major — the exact order
    // pqEncodeResidual emits codes in, so the ADC stays one zip_with
    val luts: Seq[(Long, Seq[Seq[Double]])] = qvecs.toSeq.map { case (qid, qu) =>
      (qid, for (cb <- books; s <- 0 until m) yield
        cb(s).map(c =>
          (0 until dsub).map(d => qu(s * dsub + d) * c(d)).sum).toSeq)
    }
    val scored = codes
      .select(col("vec_id"), col("codes"),
        explode(typedLit(luts)).as("q"))
      .filter(col("vec_id") =!= col("q._1"))
      .select(col("q._1").as("qid"), col("vec_id"),
        aggregate(
          zip_with(col("codes"), col("q._2"),
            (c, l) => element_at(l, c + 1)),
          lit(0.0d), (a, x) => a + x).as("adc"))
    val wAdc = Window.partitionBy("qid").orderBy(col("adc").desc, col("vec_id").asc)
    val short = scored.withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= refine)
      .select("qid", "vec_id").collect()
    // vec_id -> the (bounded) qids that shortlisted it, sorted for
    // deterministic literal construction
    val byVec: Map[Long, Seq[Long]] = short.groupBy(_.getLong(1))
      .map { case (v, rows) => v -> rows.map(_.getLong(0)).toSeq.sorted }
    val qmap: Map[Long, Seq[Double]] = qvecs.map { case (q, v) => q -> v.toSeq }.toMap
    val rescored = df.filter(col(idCol).isin(byVec.keys.toSeq: _*))
      .select(col(idCol).cast("long").as("vec_id"), unitVec(asDouble(col(vecCol))).as("v"))
      .select(col("vec_id"), col("v"),
        explode(element_at(typedLit(byVec), col("vec_id"))).as("qid"))
      .select(col("qid"), col("vec_id"),
        round(aggregate(
          zip_with(col("v"), element_at(typedLit(qmap), col("qid")),
            (x, y) => x * y),
          lit(0.0d), (a, x) => a + x), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    rescored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "vec_id", "cos", "rn")
      .orderBy("qid", "rn")
  }
}
