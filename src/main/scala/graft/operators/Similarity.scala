package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{VectorFunctions => V}
import graft.sources.Tables

/** Similarity search over the embedding column (north-star mandate;
  * generalizes the reference's managed top-k ANN, `app/vector_search.py:29-33`).
  *
  * Two tiers, as a real 100 TB pipeline would have:
  *  - brute-force exact top-k: scored scan + per-partition partial top-k
  *    (`TakeOrderedAndProject` / rank-window per query) — the correctness
  *    baseline and still the right plan when the corpus fits a scan;
  *  - IVF (inverted-file) ANN: vectors are pre-assigned to their nearest
  *    centroid cell; a query probes only its cell, turning a corpus scan
  *    into a cell scan. Centroids come from a deterministic k-MEDIANS build
  *    (no RNG: seeded init, median updates — bit-reproducible across
  *    engines) persisted as a versioned lakehouse table; at scale the cell
  *    id would be a partition/bucket column.
  */
object Similarity {

  /** (qid, vec_id, label, qlabel, score) cosine scores of all
    * query×candidate pairs, queries broadcast — the canonical scored-scan
    * shape shared by q36 (which ignores the labels), q92 (which filters
    * on them), and q137 (which votes over them). `probe` selects the
    * bounded query set (a filter on vec_id). */
  private def scored(s: SparkSession, d: String, probe: Column): DataFrame = {
    val e = Tables.embeddings(s, d)
    val qs = e.filter(probe)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"), col("qlabel"),
        V.cosine(col("embedding"), col("qv")).as("score"))
  }

  // --- IVF index build path (deterministic k-medians) ---------------------

  private val IvfK = 8
  private val IvfIters = 2
  private val Dims = 64
  /** Median grid for the bounded-memory centroid build: values quantize to
    * a 1/Bins grid. Power of two, so `bin / Bins` is an exact double and
    * both engines reproduce it bit-identically. */
  private val Bins = 4096

  /** Root of the persisted centroid table for a given source dir — keyed
    * by corpus identity + build parameters (see [[graft.sources.TableCache]]),
    * so a regenerated corpus or changed k/iters/grid triggers a fresh
    * build rather than pairing with a stale index. */
  def ivfRoot(d: String): String =
    graft.sources.TableCache.root(d, "embeddings",
      s"ivf:k=$IvfK:iters=$IvfIters:dims=$Dims:bins=$Bins:alg=kmedians-hist-v2")

  /** Long-form centroids (cid, pos, c) after `iters` Lloyd rounds of
    * k-MEDIANS: init = stored vectors 0..k-1; each round assigns every
    * vector to its nearest centroid by cosine (tie → lower cid) and
    * recomputes each centroid dimension as the per-cell lower-median on
    * the 1/Bins grid. Medians, not means, deliberately: a parallel double
    * MEAN depends on accumulation order, while the grid median is a pure
    * order statistic — bit-reproducible on any cluster AND in the oracle
    * twin. Bounded memory, unlike Spark's exact `percentile(x, 0.5)`
    * (whose ImperativeAggregate buffers every raw value of a group in one
    * task — OOM-shaped when a cell holds n/k doubles at corpus scale):
    * values quantize to the grid, counts aggregate per (cid, pos, bin)
    * with map-side partials, and the lower-median bin falls out of a
    * cumulative-count window (sort-based, spillable). State per group is
    * O(occupied bins), never O(values). At 100 TB each round is one
    * broadcast-assign pass + one binned aggregation — no collect. */
  private[operators] def kmediansLong(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val long = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos"), col("xf").cast("double").as("x"))
    var cents = long.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cid"), col("pos"), col("x").as("c"))
    for (_ <- 1 to IvfIters) {
      val cvec = toCentroidVecs(cents)
      // same argmin-as-aggregate as ivfAssigned (no rank-window shuffle)
      val assigned = e.crossJoin(broadcast(cvec))
        .select(col("vec_id"), col("cid"),
          V.cosineFold(col("embedding"), col("cv")).as("csim"))
        .groupBy(col("vec_id"))
        .agg(min(struct((-col("csim")).as("nc"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
      val binned = assigned.join(long, "vec_id")
        .groupBy(col("cid"), col("pos"),
          floor(col("x") * Bins).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt"))
      val cw = Window.partitionBy(col("cid"), col("pos")).orderBy(col("bin"))
      val tw = Window.partitionBy(col("cid"), col("pos"))
      // lower median = value at position ceil(n/2): first bin whose
      // cumulative count reaches half the total (2*cum >= n, integer-exact)
      cents = binned
        .withColumn("cum", sum(col("cnt")).over(cw))
        .withColumn("total", sum(col("cnt")).over(tw))
        .filter(col("cum") * 2 >= col("total"))
        .groupBy(col("cid"), col("pos"))
        .agg((min(col("bin")) / Bins).as("c"))
    }
    cents
  }

  /** (cid, pos, c) → (cid, cv ARRAY<DOUBLE> ordered by pos). */
  private def toCentroidVecs(cents: DataFrame): DataFrame =
    cents.groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        t => t.getField("c")).as("cv"))

  /** Build (or reuse) the persisted centroid table. Deterministic: a table
    * left by a previous run of the same source dir holds identical values,
    * so reuse is safe — and it gives q37 a real index lifecycle: build once,
    * version it, read it from every query. */
  private def centroidTable(s: SparkSession, d: String): DataFrame = {
    val root = ivfRoot(d)
    graft.sources.TableCache.locked(root) {
      if (graft.sources.LakehouseTable.versions(root).isEmpty)
        try graft.sources.LakehouseTable.create(kmediansLong(s, d), root)
        catch {
          // lost a concurrent CROSS-PROCESS first-build race: the winner
          // committed a bit-identical table (deterministic build) — read it
          case _: java.util.ConcurrentModificationException => ()
        }
    }
    toCentroidVecs(graft.sources.LakehouseTable.read(s, root))
  }

  /** (vec_id, embedding, cid) — every vector labeled with its nearest
    * centroid cell (tie → lower cid), the IVF partition assignment shared
    * by q37 (single-cell probe) and q104 (multi-probe + recall).
    *
    * Argmin as an aggregate — min(struct(-csim, cid)) picks (highest
    * similarity, then lowest cid) with map-side partial combine (plans as
    * a SortAggregate: struct buffers aren't hash-aggregable) — instead of
    * a rank window's extra shuffle. first(embedding) is
    * value-deterministic: every row of a vec_id group carries the
    * identical array. */
  private def computeAssigned(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cvec = centroidTable(s, d)
    e.crossJoin(broadcast(cvec))
      .select(col("vec_id"), col("embedding"), col("cid"),
        V.cosineFold(col("embedding"), col("cv")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("csim")).as("nc"), col("cid"))).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("m.cid").as("cid"))
  }

  /** The IVF index AS A PARTITION LAYOUT: the cell assignment materialized
    * into a versioned graft table hive-partitioned by `cid`, so a cell
    * probe is a partition-pruned file scan — the planner (statically, or
    * via dynamic partition pruning when the cell id comes from a broadcast
    * lookup) reads 1/k of the corpus's files instead of filtering all of
    * them. This IS the at-scale IVF shape: the "inverted file" is the
    * partition directory. repartition(cid) first → one writer task per
    * cell → k files, not tasks × k. */
  private[graft] def ivfCellTableRoot(s: SparkSession, d: String): String = {
    val root = graft.sources.TableCache.root(d, "embeddings",
      s"ivf-cells:k=$IvfK:iters=$IvfIters:alg=kmedians-hist-v2:v1")
    graft.sources.TableCache.locked(root) {
      if (graft.sources.LakehouseTable.versions(root).isEmpty)
        try graft.sources.LakehouseTable.create(
          computeAssigned(s, d).repartition(col("cid")), root,
          partitionBy = Seq("cid"))
        catch {
          // lost a concurrent CROSS-PROCESS first-build race (deterministic
          // build, see centroidTable)
          case _: java.util.ConcurrentModificationException => ()
        }
    }
    root
  }

  /** Incremental IVF index maintenance: route `newVecs` (vec_id,
    * embedding) to their cells under the FROZEN centroids — production
    * IVF retrains centroids rarely and appends continuously — and land
    * them in the cell-partitioned index table as ONE hive-partitioned
    * append commit. New files go inside existing `cid=` directories, so
    * the probe path (static prune, DPP) treats them exactly like the
    * originals; the routing is the same broadcast argmin the build used,
    * so an appended vector gets the identical cell it would have at
    * full-rebuild time. repartition(cid) first → one writer task per
    * touched cell. */
  def appendToCellIndex(s: SparkSession, d: String, indexRoot: String,
      newVecs: DataFrame, txn: Option[Long] = None,
      txnApp: String = graft.sources.LakehouseTable.DefaultTxnApp): Long = {
    val cvec = centroidTable(s, d)
    val assigned = newVecs.crossJoin(broadcast(cvec))
      .select(col("vec_id"), col("embedding"), col("cid"),
        V.cosineFold(col("embedding"), col("cv")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("csim")).as("nc"), col("cid"))).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("m.cid").as("cid"))
    graft.sources.LakehouseTable.append(
      assigned.repartition(col("cid")), indexRoot, partitionBy = Seq("cid"),
      txn = txn, txnApp = txnApp)
  }

  /** IVF index DELETION — the third leg of the index lifecycle
    * (build / append / delete): remove vectors matching `where` from the
    * cell-partitioned index table as one file-pruned copy-on-write
    * commit. Only the files that actually contain matching rows rewrite
    * (cells with no match keep their files byte-identical), the hive
    * `cid=` layout is preserved so the probe path's partition pruning is
    * untouched, and the deletion is a table version like any other —
    * time-travelable, vacuumable, and visible to the incremental/CDC
    * readers. After a delete, a cell probe returns exactly what a full
    * index REBUILD over the surviving vectors would return (asserted in
    * Round6Spec): deletion never re-routes survivors, because cells are
    * a pure per-vector function of the frozen centroids. */
  def deleteFromCellIndex(s: SparkSession, indexRoot: String,
      where: String): Long =
    graft.sources.LakehouseTable.deleteWhere(s, indexRoot, where,
      partitionBy = Seq("cid"))

  /** Cell-partitioned assignment read from the index table (cid restored
    * to BIGINT — hive partition values type-infer as INT), plus the
    * centroid vectors. Probing queries join/filter on `cid`, and the
    * table's hive layout turns that into file-level partition pruning. */
  private def ivfAssigned(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val t = graft.sources.LakehouseTable.read(s, ivfCellTableRoot(s, d))
      .select(col("vec_id"), col("embedding"), col("cid").cast("long").as("cid"))
    (t, centroidTable(s, d))
  }

  // --- Integer-exact distributed k-means (q158/q159) ----------------------

  private val KmK = 8
  private val KmQScale = 10000
  private val KmSampleCap = 20

  /** Quantized embedding frame (vec_id, label, q: array<bigint>), one
    * materialization per (session, dir): all three Lloyd assignment
    * passes and the q159 sampler ride this relation instead of
    * re-reading + re-quantizing the corpus per round. */
  private def kmQuantized(s: SparkSession, d: String): DataFrame =
    graft.sources.RelationCache.of(s, "similarity.kmQuantized", d) {
      Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => round(x.cast("double") * KmQScale).cast("long")).as("q"))
    }

  /** struct(dist, cid) of the nearest of `cents` (literal centroids):
    * squared-L2 argmin in quantized-integer space, ties to the lower cid
    * via struct ordering. One codegen'd expression per row — no explode,
    * no join. */
  private def kmNearest(cents: Seq[Array[Long]]): Column =
    array_min(array(cents.zipWithIndex.map { case (c, k) =>
      struct(
        aggregate(zip_with(col("q"), array(c.toIndexedSeq.map(lit): _*),
            (x, cc) => (x - cc) * (x - cc)),
          lit(0L), (acc, v) => acc + v).as("dist"),
        lit(k.toLong).as("cid"))
    }: _*))

  /** Final Lloyd assignment (vec_id, label, cid, dist) after 3 assignment
    * passes / 2 MEAN updates of k-means over integer-quantized embeddings.
    *
    * The companion to the index's k-MEDIANS build (kmediansLong): where
    * that one avoids ALL driver synchronization via grid medians, this is
    * the classic Lloyd's-with-means — and it stays bit-reproducible
    * across engines because every update is exact integer arithmetic:
    * components quantize once to a 1/10000 grid (the q91 cast-double-
    * then-round convention), cell sums of longs are order-independent,
    * and the new centroid is the truncating integer quotient sum/count
    * (Scala `/` ≡ DuckDB `//` toward zero). No double ever enters, so no
    * accumulation-order drift — the failure mode that makes naive
    * distributed k-means non-reproducible. Per-round driver sync is the
    * k×dims centroid matrix (512 longs — independent of corpus size, the
    * same sync MLlib's KMeans does); each round is one broadcast-assign
    * scan + one map-side-combined (cid, pos) aggregation. Empty cells
    * keep their previous centroid (mirrored in the oracle's LEFT JOIN
    * COALESCE). */
  private[operators] def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val qdf = kmQuantized(s, d)
    var cents: Seq[Array[Long]] = qdf.filter(col("vec_id") < KmK)
      .orderBy(col("vec_id")).collect()
      .map(r => r.getSeq[Long](r.fieldIndex("q")).toArray).toSeq
    for (_ <- 1 to 2) {
      val assigned = qdf.withColumn("cid", kmNearest(cents).getField("cid"))
      val sums = assigned
        .select(col("cid"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val upd = sums.groupBy(_.getLong(0)).map { case (cid, rows) =>
        cid.toInt -> rows.sortBy(_.getInt(1))
          .map(r => r.getLong(2) / r.getLong(3)).toArray
      }
      cents = cents.zipWithIndex.map { case (old, k) => upd.getOrElse(k, old) }
    }
    kmCentCache.of(s).put(d, cents)
    qdf.withColumn("nn", kmNearest(cents))
      .select(col("vec_id"), col("label"),
        col("nn").getField("cid").as("cid"), col("nn").getField("dist").as("dist"))
  }

  /** Converged k-means centroids for (session, dir) — the 512-long driver
    * matrix [[kmeansAssign]] ends on, memoized alongside the
    * RelationCache'd assignment so residual consumers (q172) never rerun
    * the Lloyd iteration. */
  private val kmCentCache = new graft.sources.Memo[Seq[Array[Long]]]
  private def kmeansCentroids(s: SparkSession, d: String): Seq[Array[Long]] =
    Option(kmCentCache.of(s).get(d)).getOrElse {
      kmeansAssigned(s, d).count() // materialize → kmeansAssign fills the cache
      kmCentCache.of(s).get(d)
    }

  /** [[kmeansAssign]]'s converged result, one materialization per
    * (session, dir): q158 and q159 both consume it, so the 3-pass
    * iteration (and its two centroid syncs) runs once per corpus — the
    * q68/q152 shared-relation pattern. */
  private def kmeansAssigned(s: SparkSession, d: String): DataFrame =
    graft.sources.RelationCache.of(s, "similarity.kmAssigned", d) {
      kmeansAssign(s, d)
    }

  // --- Product quantization + ADC scan (q171) -----------------------------

  private val PqM = 8      // sub-blocks (Dims / PqSub)
  private val PqSub = 8    // dims per block
  private val PqK = 8      // codes per block (codebook size)
  private val PqNq = 16    // probe query set: vec_id < PqNq
  private val PqTopK = 10
  private val IvfPqProbe = 2 // coarse cells probed per query (q172)

  /** struct(dist, cid) of the nearest code of block `b` — squared-L2 over
    * the block's PqSub quantized dims, ties to the lower code id (the
    * kmNearest convention, per block). */
  private def pqNearest(cents: Array[Array[Array[Long]]], b: Int): Column =
    array_min(array(cents(b).indices.map { k =>
      struct(
        aggregate(zip_with(
            slice(col("q"), b * PqSub + 1, PqSub),
            array(cents(b)(k).toIndexedSeq.map(lit): _*),
            (x, c) => (x - c) * (x - c)),
          lit(0L), (acc, v) => acc + v).as("dist"),
        lit(k.toLong).as("cid"))
    }: _*))

  /** Per-block codebooks after 3 assignment passes / 2 mean updates of
    * block-wise Lloyd's over the quantized embeddings (PRODUCT
    * QUANTIZATION training — Jégou/Douze/Schmid, TPAMI 2011, public),
    * plus the encoded corpus (vec_id, label, codes: array<bigint>).
    *
    * FUSED across blocks: each round is ONE scan computing all PqM block
    * assignments in a single codegen'd projection and ONE map-side-
    * combined (blk, cid, pos) aggregation — the per-round driver sync is
    * the PqM×PqK×PqSub codebook (256 longs, corpus-size-independent).
    * Integer-exact throughout (the kmeansAssign arithmetic, per block),
    * so 8 independent Lloyd's runs stay bit-reproducible in the oracle's
    * blk-keyed relational twin. Empty cells keep their previous code. */
  /** Trained PQ artifacts per (session, dir, variant): the INDEX-BUILD /
    * QUERY-SERVE split a deployed ANN index actually has. The encoded
    * relation is RelationCache'd (train once per corpus, the q68/kmeans
    * convention) and the codebook matrix memoized beside it — bench and
    * repeat callers pay the ADC scan, not a retrain, which is the
    * production cost model (codebooks change on rebuild, not per query). */
  private val pqCentCache = new graft.sources.Memo[Array[Array[Array[Long]]]]

  private def pqCached(s: SparkSession, d: String, variant: String)(
      input: => DataFrame): (DataFrame, Array[Array[Array[Long]]]) = {
    val key = s"$d@$variant"
    val enc = graft.sources.RelationCache.of(s, s"similarity.pqEnc.$variant", d) {
      val (e, c) = pqFit(input)
      pqCentCache.of(s).put(key, c)
      e
    }
    (enc, Option(pqCentCache.of(s).get(key)).getOrElse(
      throw new NoSuchElementException(s"key not found: $key")))
  }

  private def pqTrained(s: SparkSession, d: String): (DataFrame, Array[Array[Array[Long]]]) =
    pqCached(s, d, "raw")(kmQuantized(s, d))

  /** Exact quantized-L2 top-[[PqTopK]] per probe query (qid, vec_id) —
    * the recall baseline SHARED by q171 and q172, one materialization
    * per (session, dir). */
  private def pqExactTop(s: SparkSession, d: String): DataFrame =
    graft.sources.RelationCache.of(s, "similarity.pqExactTop", d) {
      val qdf = kmQuantized(s, d)
      val qfull = qdf.filter(col("vec_id") < PqNq)
        .select(col("vec_id").cast("long").as("qid"), col("q").as("qv"))
      val ex = qdf.crossJoin(broadcast(qfull))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          aggregate(zip_with(col("q"), col("qv"), (x, c) => (x - c) * (x - c)),
            lit(0L), (acc, v) => acc + v).as("edist"))
      val wE = Window.partitionBy(col("qid")).orderBy(col("edist"), col("vec_id"))
      ex.withColumn("rn", row_number().over(wE))
        .filter(col("rn") <= PqTopK)
        .select(col("qid"), col("vec_id"))
    }

  /** Block-wise Lloyd's over ANY (…, q: array<bigint>) frame — q171
    * trains on the raw quantized vectors, q172 on coarse-cell RESIDUALS.
    * The encoded result keeps every input column except q, with `codes`
    * appended. */
  private def pqFit(qdf: DataFrame): (DataFrame, Array[Array[Array[Long]]]) = {
    var cents: Array[Array[Array[Long]]] = {
      val init = qdf.filter(col("vec_id") < PqK)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Long](r.fieldIndex("q")).toArray)
      // a corpus with id gaps (or fewer than PqK vectors) seeds FEWER
      // codes — the same short-codebook behavior the DuckDB twin's pc0
      // CTE has (it trains with however many vec_id < PqK rows exist),
      // instead of an ArrayIndexOutOfBounds on init(k). Assignment
      // ordering is unaffected: codes are ranked by seed order on both
      // sides.
      require(init.nonEmpty,
        s"pqFit: no vectors with vec_id < $PqK to seed the codebooks")
      Array.tabulate(PqM, init.length)((b, k) =>
        init(k).slice(b * PqSub, (b + 1) * PqSub))
    }
    def nnCol = array((0 until PqM).map(b => pqNearest(cents, b)): _*)
    for (_ <- 1 to 2) {
      val sums = qdf.withColumn("nn", nnCol)
        .select(col("q"), posexplode(col("nn")).as(Seq("blk", "st")))
        .withColumn("sq",
          slice(col("q"), col("blk") * lit(PqSub) + lit(1), lit(PqSub)))
        .select(col("blk"), col("st").getField("cid").as("cid"),
          posexplode(col("sq")).as(Seq("pos", "x")))
        .groupBy(col("blk"), col("cid"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val upd = sums.groupBy(r => (r.getInt(0), r.getLong(1))).map {
        case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(r => r.getLong(3) / r.getLong(4))
      }
      cents = Array.tabulate(PqM, cents(0).length)((b, k) =>
        upd.get((b, k.toLong)).map(_.toArray).getOrElse(cents(b)(k)))
    }
    val enc = qdf.withColumn("codes",
        transform(nnCol, st => st.getField("cid")))
      .drop("q")
    (enc, cents)
  }

  /** Upper-triangle GRAM (second-moment) matrix of the quantized
    * embeddings, (i, j, s) with 1-based dims, i ≤ j, s = Σ_vecs qᵢ·qⱼ —
    * exact long arithmetic, RelationCache'd so q162 and q163 share one
    * corpus pass.
    *
    * The SHAPE is the point: the relational form (posexplode → self-join
    * on vec_id → groupBy(i,j)) shuffles n·d² rows — at corpus scale
    * that's the whole dataset times 4096. Here each partition folds its
    * rows into a LOCAL d×d long accumulator and emits exactly d(d+1)/2
    * partial rows (mapPartitions with O(d²) bounded state — the
    * distributed-BLAS layout every PCA/covariance job uses), and the
    * final aggregation moves d² longs per partition, independent of n.
    * Overflow bound: |q| ≤ 3·10³-ish ⇒ per-vector products ≤ ~10⁷, so a
    * long holds Σ over ~10¹¹ vectors; beyond that the partials sum in
    * DECIMAL(38). */
  private def gramRelation(s: SparkSession, d: String): DataFrame =
    graft.sources.RelationCache.of(s, "similarity.gram", d) {
      import s.implicits._
      val dims = Dims
      kmQuantized(s, d).select(col("q")).as[Seq[Long]]
        .mapPartitions { rows =>
          val acc = Array.ofDim[Long](dims, dims)
          rows.foreach { q =>
            var i = 0
            while (i < dims) {
              val qi = q(i)
              var j = i
              while (j < dims) { acc(i)(j) += qi * q(j); j += 1 }
              i += 1
            }
          }
          (0 until dims).iterator.flatMap(i =>
            (i until dims).iterator.map(j => (i + 1, j + 1, acc(i)(j))))
        }
        .toDF("i", "j", "s")
        .groupBy(col("i"), col("j")).agg(sum(col("s")).as("s"))
    }

  /** DuckDB twin of [[gramRelation]] (the oracle pays the relational
    * explode form — n·d² rows is fine at gate SF). */
  private def sqlGramCtes: String =
    s"""qg AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * $KmQScale) AS BIGINT)) AS q
        FROM embeddings),
      gx AS MATERIALIZED (SELECT vec_id, unnest(range(1, ${Dims + 1})) AS i, unnest(q) AS x FROM qg),
      gram AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS s
               FROM gx a JOIN gx b ON a.vec_id = b.vec_id AND a.i <= b.i
               GROUP BY 1, 2)"""

  /** Fixed-point integer POWER ITERATION on the collected Gram matrix:
    * the leading eigenvector (top singular direction of the embedding
    * matrix — uncentered PCA's first component) with every step exact.
    * The Gram is first range-compressed by a data-derived but
    * DETERMINISTIC integer divisor (max|G| → ≤ 10⁹) so 6 rounds of
    * w = G·v, v ← w·10⁶ // max|w| stay inside 64-bit longs at any
    * corpus size; truncating integer division matches DuckDB's `//`.
    * Driver cost is O(d²) — corpus-independent, the k-means-centroid
    * sync shape. λ in micro-units falls out of the last round's
    * normalizer: max|G'·v| / max|v| with |v| pinned to 10⁶. */
  private[operators] def powerIterate(gram: Map[(Int, Int), Long]): (Array[Long], Long) = {
    val maxAbs = gram.valuesIterator.map(math.abs).max
    val scale = math.max(1L, maxAbs / 1000000000L)
    def g(i: Int, j: Int): Long =
      (if (i <= j) gram((i, j)) else gram((j, i))) / scale
    var v = Array.fill(Dims)(1000000L)
    var lambda = 0L
    var r = 0
    while (r < 6) {
      val w = Array.tabulate(Dims) { i =>
        var acc = 0L
        var j = 0
        while (j < Dims) { acc += g(i + 1, j + 1) * v(j); j += 1 }
        acc
      }
      val n = w.map(math.abs).max
      lambda = n / 1000000L
      // x·10⁶ can pass 2⁶³ (x is up to 64·10⁹·10⁶) — the one step that
      // needs 128-bit; BigInt division truncates toward zero exactly
      // like DuckDB's HUGEINT `//`
      v = w.map(x => (BigInt(x) * 1000000L / n).toLong)
      r += 1
    }
    (v, lambda * scale)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact GRAM matrix (see gramRelation — the X^T X primitive under
    // covariance/PCA/whitening), oracle-checked entry by entry.
    "q162_gram_matrix" -> ((s, d) =>
      gramRelation(s, d).orderBy(col("i"), col("j"))),

    // Leading principal direction via exact fixed-point power iteration:
    // the corpus-wide pass is q162's Gram relation; the d×d iteration is
    // driver-side integer arithmetic, so the eigenvector and the
    // eigenvalue estimate are bit-reproducible and the ORACLE re-derives
    // them through 6 unrolled CTE rounds. (Sign and ties are pinned by
    // the all-positive start and deterministic truncation.)
    "q163_top_pc" -> ((s, d) => {
      val gram = gramRelation(s, d).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val (v, lambda) = powerIterate(gram)
      import s.implicits._
      v.toSeq.zipWithIndex
        .map { case (x, i) => (i + 1, x, lambda) }
        .toDF("pos", "v", "lambda_micro")
        .orderBy(col("pos"))
    }),

    // RETRIEVAL EVALUATION harness — the metric pass every embedding
    // pipeline needs next to its index: top-10 cosine retrieval for a
    // bounded probe set, relevance = label match, reported per query
    // label as hits@10, queries-with-a-hit, and MRR. The reciprocal-rank
    // sum is EXACT integer micro-units (1e6 div rank — ranks are
    // integers, so no float mean), keeping the metric oracle-checkable.
    // Shape: the q36 scored-scan (queries broadcast, one corpus pass),
    // per-query rank window rides the qid exchange, then a tiny rollup.
    "q167_retrieval_eval" -> ((s, d) => {
      val ranked = scored(s, d, col("vec_id") < 32)
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rk") <= 10)
      ranked.groupBy(col("qid"), col("qlabel"))
        .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L)).as("hits"),
          min(when(col("label") === col("qlabel"), col("rk"))).as("first_rel"))
        .groupBy(col("qlabel"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("hits")).as("hits_at_10"),
          sum(when(col("first_rel").isNotNull, 1L).otherwise(0L)).as("n_with_hit"),
          sum(coalesce(expr("1000000 div first_rel"), lit(0)).cast("long"))
            .as("mrr_sum_micro"))
        .orderBy(col("qlabel"))
    }),

    // Distributed k-means profile: cluster populations + exact inertia
    // after 3 Lloyd passes (see kmeansAssign — integer-exact, so the
    // iterative float pipeline is oracle-checkable end to end). The
    // clustering every curation move downstream of embeddings builds on:
    // q159 samples from it; SemDeDup/DataComp prune within it.
    "q158_kmeans" -> ((s, d) =>
      kmeansAssigned(s, d)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("dist")).as("inertia"),
          min(col("vec_id")).as("min_vec_id"))
        .orderBy(col("cid"))),

    // CLUSTER-BALANCED sampling (the DataComp/SemDeDup curation move):
    // cap each k-means cluster at KmSampleCap draws so dense regions of
    // embedding space cannot dominate the training mix. The draw order is
    // the engine's md5 convention (deterministic, partition-local); the
    // per-cluster rank-window rides ONE exchange on cid. Label mix of the
    // sample is reported per cell — the quantity balanced sampling exists
    // to improve.
    "q159_cluster_sample" -> ((s, d) => {
      val w = Window.partitionBy(col("cid")).orderBy(col("draw"), col("vec_id"))
      kmeansAssigned(s, d)
        .withColumn("draw",
          graft.functions.TextFunctions.md5Prefix(
            concat(lit("km"), col("vec_id").cast("string")), 8))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= KmSampleCap)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_sampled"),
          countDistinct(col("label")).as("n_labels"),
          sum(col("label").cast("long")).as("label_sum"))
        .orderBy(col("cid"))
    }),

    // PRODUCT-QUANTIZATION ADC scan (Jégou et al. 2011, public) — the
    // memory-bound ANN tier below IVF: the corpus is held as PqM 2-bit
    // codes per vector (64 quantized dims → 8 bytes-of-code here; 256×
    // smaller than the vectors), a query precomputes its per-(block,
    // code) distance lookup table, and the scan sums M table entries per
    // vector instead of touching the embedding — asymmetric distance
    // computation. Relationally: the LUT is |queries|·M·K rows
    // (broadcast); the corpus side explodes codes to n·M rows and the
    // per-(qid, vec_id) sum rides one exchange — no vector arithmetic
    // anywhere in the scan. Report: recall@10 of the ADC top-10 against
    // the exact quantized-L2 top-10, per query label — the
    // accuracy-for-memory trade the operator exists to measure (q104's
    // recall-curve convention).
    "q171_pq_adc" -> ((s, d) => {
      val s2 = s
      import s2.implicits._
      val (enc, cents) = pqTrained(s, d)
      val qdf = kmQuantized(s, d)
      val probes = qdf.filter(col("vec_id") < PqNq)
        .select(col("vec_id").cast("long"), col("label").cast("long"), col("q"))
        .orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Long](r.fieldIndex("q")).toArray))
      val lut = probes.toSeq.flatMap { case (qid, qlabel, qv) =>
        for (b <- 0 until PqM; k <- 0 until PqK) yield {
          var pd = 0L
          var i = 0
          while (i < PqSub) {
            val dx = qv(b * PqSub + i) - cents(b)(k)(i); pd += dx * dx; i += 1
          }
          (qid, qlabel, b, k.toLong, pd)
        }
      }.toDF("qid", "qlabel", "blk", "cid", "pd")
      val adc = enc
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("blk", "cid")))
        .join(broadcast(lut), Seq("blk", "cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("qlabel"), col("vec_id"))
        .agg(sum(col("pd")).as("adist"))
      val wA = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
      val atop = adc.withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= PqTopK)
        .select(col("qid"), col("qlabel"), col("vec_id"))
      val etop = pqExactTop(s, d).withColumn("hit", lit(1L))
      atop.join(etop, Seq("qid", "vec_id"), "left_outer")
        .groupBy(col("qid"), col("qlabel"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .groupBy(col("qlabel"))
        .agg(count(lit(1)).as("n_queries"), sum(col("hits")).as("hits_at_10"))
        .select(col("qlabel"), col("n_queries"), col("hits_at_10"),
          expr(s"hits_at_10 * 1000000 div (n_queries * $PqTopK)").as("recall_micro"))
        .orderBy(col("qlabel"))
    }),

    // IVFADC — the COMPOSED 100 TB ANN path (Jégou et al. 2011, §V): the
    // coarse k-means quantizer routes each query to its IvfPqProbe
    // nearest cells, and within those cells the scan is the q171 ADC over
    // PQ codes trained on coarse-cell RESIDUALS (r = q − centroid, the
    // part PQ actually has to encode once the cell is known — residual
    // energy is a fraction of vector energy, so the same code budget
    // buys more precision). Per query the work is |probed cells| code
    // scans with zero vector reads; `sum_scanned` reports exactly how
    // much of the corpus each label's queries touched — the scan
    // reduction the composition exists to buy, next to the recall it
    // costs. All integer end to end: residuals are long differences, the
    // codebooks come from the same fused block-Lloyd's, the LUT now
    // bakes in the query's per-cell residual.
    "q172_ivfpq_adc" -> ((s, d) => {
      import s.implicits._
      val qdf = kmQuantized(s, d)
      val ccents = kmeansCentroids(s, d)
      def rdf = {
        val cdf = ccents.zipWithIndex.map { case (c, k) => (k.toLong, c.toSeq) }
          .toDF("cid", "cq")
        kmeansAssigned(s, d).select(col("vec_id"), col("cid"))
          .join(qdf.select(col("vec_id"), col("label"), col("q")), "vec_id")
          .join(broadcast(cdf), "cid")
          .select(col("vec_id"), col("label"), col("cid"),
            zip_with(col("q"), col("cq"), (x, c) => x - c).as("q"))
      }
      val (enc, pqc) = pqCached(s, d, "residual")(rdf) // (vec_id, label, cid, codes)
      val probes = qdf.filter(col("vec_id") < PqNq)
        .select(col("vec_id").cast("long"), col("label").cast("long"), col("q"))
        .orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Long](r.fieldIndex("q")).toArray))
      val lut = probes.toSeq.flatMap { case (qid, qlabel, qv) =>
        val cells = ccents.zipWithIndex.map { case (c, k) =>
          var dd = 0L; var i = 0
          while (i < c.length) { val dx = qv(i) - c(i); dd += dx * dx; i += 1 }
          (dd, k)
        }.sorted.take(IvfPqProbe).map(_._2)
        for {
          cell <- cells.toSeq
          b <- 0 until PqM; k <- 0 until PqK
        } yield {
          var pd = 0L; var i = 0
          while (i < PqSub) {
            val dim = b * PqSub + i
            val dx = (qv(dim) - ccents(cell)(dim)) - pqc(b)(k)(i)
            pd += dx * dx; i += 1
          }
          (qid, qlabel, cell.toLong, b, k.toLong, pd)
        }
      }.toDF("qid", "qlabel", "cid", "blk", "code", "pd")
      val adc = enc
        .select(col("vec_id"), col("cid"),
          posexplode(col("codes")).as(Seq("blk", "code")))
        .join(broadcast(lut), Seq("cid", "blk", "code"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("qlabel"), col("vec_id"))
        .agg(sum(col("pd")).as("adist"))
      val wA = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
      val atop = adc.withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= PqTopK)
        .select(col("qid"), col("qlabel"), col("vec_id"))
      val scanned = adc.groupBy(col("qid"), col("qlabel"))
        .agg(count(lit(1)).as("n_scanned"))
      val qfull = probes.toSeq.map { case (qid, _, qv) => (qid, qv.toSeq) }
        .toDF("qid", "qv")
      val ex = qdf.crossJoin(broadcast(qfull))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          aggregate(zip_with(col("q"), col("qv"), (x, c) => (x - c) * (x - c)),
            lit(0L), (acc, v) => acc + v).as("edist"))
      val wE = Window.partitionBy(col("qid")).orderBy(col("edist"), col("vec_id"))
      val etop = ex.withColumn("rn", row_number().over(wE))
        .filter(col("rn") <= PqTopK)
        .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
      atop.join(etop, Seq("qid", "vec_id"), "left_outer")
        .groupBy(col("qid"), col("qlabel"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .join(scanned, Seq("qid", "qlabel"))
        .groupBy(col("qlabel"))
        .agg(count(lit(1)).as("n_queries"), sum(col("hits")).as("hits_at_10"),
          sum(col("n_scanned")).as("sum_scanned"))
        .select(col("qlabel"), col("n_queries"), col("hits_at_10"),
          expr(s"hits_at_10 * 1000000 div (n_queries * $PqTopK)").as("recall_micro"),
          col("sum_scanned"))
        .orderBy(col("qlabel"))
    }),

    // INCREMENTAL semantic dedup — q146's production ingest shape (the
    // embedding analog of q110): an arriving batch (vec_id ≡ 8,9 mod 10)
    // is routed to its IVF cell and compared against the EXISTING
    // corpus's vectors in that cell only — no new×new, no old×old pairs.
    // The routing is the index's own assignment (nearest centroid), so a
    // deployed pipeline holds just the centroids (broadcast) and the
    // cell-partitioned corpus table between batches; the batch-side
    // shuffle is one exchange on cid. Reported per cell: arrivals and
    // how many were flagged as semantic duplicates of the corpus.
    "q148_incremental_semdedup" -> ((s, d) => {
      val (a, _) = ivfAssigned(s, d)
      // bounded reference panel: each arrival compares against at most
      // [[SemDedupCellCap]] corpus vectors per cell (the lowest-id ones —
      // deterministic, oracle-expressible), so the per-batch pair space is
      // |batch|·cap however hot the cell gets — the skew guard that keeps
      // a 100 TB ingest's per-task work bounded (LSH-banding's trade:
      // dups beyond the panel go unflagged until the next index rebuild
      // rebalances the cell)
      val wCorp = Window.partitionBy(col("cid")).orderBy(col("old_id"))
      val corpus = a.filter(col("vec_id") % 10 < 8)
        .select(col("cid"), col("vec_id").as("old_id"), col("embedding").as("eo"))
        .withColumn("rn", row_number().over(wCorp))
        .filter(col("rn") <= SemDedupCellCap).drop("rn")
      val fresh = a.filter(col("vec_id") % 10 >= 8)
        .select(col("cid"), col("vec_id").as("new_id"), col("embedding").as("en"))
      val flagged = fresh.join(corpus, "cid")
        .filter(V.cosine(col("en"), col("eo")) >= SemDedupTau)
        .select(col("cid"), col("new_id")).distinct()
      fresh.select(col("cid"), col("new_id"))
        .join(flagged.withColumn("dup", lit(1L)), Seq("cid", "new_id"), "left_outer")
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_new"),
          sum(coalesce(col("dup"), lit(0L))).as("n_flagged"))
        .orderBy(col("cid"))
    }),

    // SemDeDup-shaped semantic dedup (Abbas et al. 2023, public): prune
    // near-identical MEANING inside each IVF cell only — the cluster
    // assignment bounds the pair space, so the cost is Σ|cell|², never
    // O(n²), and the hive cell layout co-locates each cell's self-join.
    // Deterministic survivor rule: a vector is a duplicate iff a
    // LOWER-id vector in its cell is within the cosine threshold (greedy
    // keep-first — order-free, rerun-stable, and expressible in the
    // oracle). Reported per cell: population and duplicates found. The
    // pair space is HARD-bounded: a cell above [[SemDedupCellCap]] is
    // sub-sharded deterministically (id-rank blocks of cap vectors) and
    // pairs form only within a shard, so total pairs ≤ n·cap/2 — linear
    // in the corpus, never Σ|cell|² on a skewed clustering. Cross-shard
    // dups inside one hot cell go unflagged (the LSH-banding trade,
    // mirrored exactly in the oracle); the join shuffles only on
    // (cid, shard) — the SemDeDup recipe (cluster, then pairwise within
    // cluster) with the cap its paper assumes from balanced k-means.
    "q146_semantic_dedup" -> ((s, d) => {
      val (a, _) = ivfAssigned(s, d)
      val dups = semDedupFlags(a)
      a.select(col("cid"), col("vec_id"))
        .join(dups.withColumn("dup", lit(1L)), Seq("cid", "vec_id"), "left_outer")
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
        .orderBy(col("cid"))
    }),
    // Exact k-NN for 5 stored queries in one pass (rank window per query).
    "q36_knn_bruteforce" -> ((s, d) => {
      val w = Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))
      scored(s, d, col("vec_id") < 5)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id"), col("score"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Leave-one-out kNN label probe — the EVALUATION op for an embedding
    // space: is the geometry good enough that a vector's neighbors share
    // its label? Probes are a deterministic 1-in-25 sample, each
    // classified by majority vote of its 5 nearest corpus neighbors
    // (cosine desc, vec_id tie-break); vote ties break to the smallest
    // label via the min-of-struct argmax (no second window). Shape at
    // scale: the bounded probe set broadcasts against ONE corpus scan
    // (q36's scored-scan), rank window over per-probe groups; production
    // swaps the scan for the q37 IVF cell probe, downstream unchanged.
    "q137_knn_label_probe" -> ((s, d) => {
      val w = Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))
      val top5 = scored(s, d, col("vec_id") % 25 === 0)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      top5.groupBy(col("qid"), col("qlabel"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("qid"), col("qlabel"))
        .agg(min(struct((-col("votes")).as("nv"), col("label").as("lb"))).as("m"))
        .select(col("qid"), col("qlabel"), col("m.lb").as("pred"))
        .groupBy(col("qlabel"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("pred") === col("qlabel"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("qlabel").as("label"), col("n_probes"), col("n_correct"))
        .orderBy(col("label"))
    }),

    // IVF ANN with a real index lifecycle: centroids come from a
    // deterministic k-medians build PERSISTED as a versioned lakehouse
    // table (built on first use, read from a table version after). Every
    // vector is assigned to its nearest centroid cell; query vec 42 is
    // answered by scanning only its cell — at scale the cell id is a
    // partition column and exactly one block of the corpus is read.
    "q37_ivf_ann" -> ((s, d) => {
      val (assigned, _) = ivfAssigned(s, d)
      val qCell = assigned.filter(col("vec_id") === 42)
        .select(col("cid").as("qcid"), col("embedding").as("qv"))
      assigned.join(broadcast(qCell), col("cid") === col("qcid"))
        .filter(col("vec_id") =!= 42)
        .select(col("vec_id"), col("cid"), V.cosine(col("embedding"), col("qv")).as("score"))
        .orderBy(desc("score"), col("vec_id"))
        .limit(5)
    }),

    // Multi-probe IVF with a MEASURED recall CURVE: for each nProbe in
    // {1, 2, 4, 8}, probe the nProbe nearest cells (deterministic
    // tie-break on cid), take the IVF top-5, and count the overlap with
    // the brute-force top-5 (q36's exact plan) — recall@5 as green,
    // hash-matched numbers rather than a claim. The curve is monotone and
    // provably hits 1.0 at nProbe = k (all cells = the exact scan); where
    // it sits below that is the real cost of probing fewer cells on THIS
    // corpus. At scale each probe set turns a corpus scan into nProbe
    // cell scans, and this query is the acceptance test that the speedup
    // keeps recall.
    "q104_ivf_recall" -> ((s, d) => {
      import s.implicits._
      val (assigned, cvec) = ivfAssigned(s, d)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 42)
        .select(col("embedding").as("qv"))
      // k-row relation (centroids): the unpartitioned rank window is fine
      val cellRank = cvec.crossJoin(broadcast(qv))
        .select(col("cid"), V.cosineFold(col("cv"), col("qv")).as("qsim"))
        .withColumn("prn", row_number().over(Window.orderBy(desc("qsim"), col("cid"))))
        .select(col("cid"), col("prn"))
      val cand = assigned.join(broadcast(cellRank), "cid")
        .crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 42)
        .select(col("vec_id"), col("prn"), V.cosine(col("embedding"), col("qv")).as("score"))
      val npDf = Seq(1L, 2L, 4L, 8L).toDF("n_probe")
      val rw = Window.partitionBy(col("n_probe")).orderBy(desc("score"), col("vec_id"))
      val ranked = cand.join(broadcast(npDf), col("prn") <= col("n_probe"))
        .withColumn("rnk", row_number().over(rw))
        .filter(col("rnk") <= 5)
      val exactTop = Tables.embeddings(s, d).crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 42)
        .select(col("vec_id"), V.cosine(col("embedding"), col("qv")).as("escore"))
        .orderBy(desc("escore"), col("vec_id")).limit(5)
      val hits = ranked.join(exactTop.select("vec_id"), Seq("vec_id"), "left_semi")
        .groupBy(col("n_probe")).agg(count(lit(1)).as("h"))
      npDf.join(hits, Seq("n_probe"), "left")
        .select(lit(42L).as("qid"), col("n_probe"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (coalesce(col("h"), lit(0L)) / lit(5.0)).as("recall"))
        .orderBy(col("n_probe"))
    }),

    // Contrastive hard-negative mining: for each query vector, the top-3
    // most-similar vectors with a DIFFERENT label — the standard negative-
    // sampling pass of a contrastive training pipeline. Reuses the SAME
    // scored-scan + per-query rank-window plan as q36 (one corpus scan,
    // queries broadcast); the cross-label predicate compares against the
    // broadcast side, so it applies map-side right after the probe —
    // cheap, but NOT a scan-pushdown/stats-prunable filter.
    "q92_hard_negatives" -> ((s, d) => {
      val w = Window.partitionBy(col("qid")).orderBy(desc("score"), col("vec_id"))
      scored(s, d, col("vec_id") < 5)
        .filter(col("label") =!= col("qlabel"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"), col("label"), col("score"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Per-vector symmetric int8 quantization (the embedding-compression
    // pass of a vector-index build): scale = max|x|/127, q_i = round(x_i /
    // scale), plus a reconstruction-error report. One narrow projection —
    // no shuffle at all; at 100 TB this runs as a map-only rewrite of the
    // embedding column. All arithmetic is float→double widening + one
    // division and a round, identical in both engines (round-half-away-
    // from-zero on exact doubles).
    // Per-dimension winsorization stats (embedding-hygiene pass before an
    // index build): p05/p95 per dimension plus how many values each clip
    // bound would touch. posexplode → ExactPercentile (distinct-value
    // counts + cumulative windows: exact quantile_cont parity WITHOUT
    // buffering a dimension's raw values in one task); the 64-row bounds
    // broadcast back for the count pass. float→double widening is exact.
    "q98_winsorize_dims" -> ((s, d) => {
      val vals = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("pos").cast("long").as("pos"), col("v").cast("double").as("v"))
      val pct = ExactPercentile.percentiles(vals, Seq("pos"), col("v"),
        Seq("p05" -> 0.05, "p95" -> 0.95))
      vals.join(broadcast(pct), "pos")
        .groupBy(col("pos"))
        .agg(min(col("p05")).as("p05"), min(col("p95")).as("p95"),
          count(when(col("v") < col("p05"), 1)).as("n_below"),
          count(when(col("v") > col("p95"), 1)).as("n_above"))
        .orderBy(col("pos"))
    }),

    "q91_int8_quant" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          (array_max(transform(col("embedding"), x => abs(x.cast("double"))))
            / lit(127.0)).as("scale"))
        .filter(col("scale") > 0)
        .withColumn("q",
          transform(col("embedding"), x => round(x.cast("double") / col("scale")).cast("int")))
        .select(col("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long")).as("sum_q"),
          size(filter(col("q"), x => x =!= 0)).cast("long").as("nnz"),
          array_max(zip_with(col("embedding"), col("q"),
            (v, qq) => abs(v.cast("double") - qq.cast("double") * col("scale"))))
            .as("max_err"))
        .orderBy(col("vec_id"))
    }),

    // Hybrid retrieval with reciprocal-rank fusion: one dense ranking
    // (cosine vs query vec 0) and one sparse ranking (how many of the
    // keyword terms the doc contains), fused as Σ 1/(60 + rank). RRF works
    // on INTEGER ranks, so the fusion is bit-deterministic — no score
    // normalization across incomparable scales. Each side keeps only its
    // top-64 (TakeOrderedAndProject: per-partition partial top-k, k-row
    // merge — NOT a global rank window over the corpus) and ranks within
    // those 64 rows; fused candidates are docs in BOTH lists. That is the
    // deployed RRF shape: rank beyond N contributes at most 1/(60+N) —
    // below the fused top-10 cutoff — so the truncation costs recall only
    // at the fusion margin, and the oracle mirrors it exactly.
    "q64_hybrid_rrf" -> ((s, d) => {
      import graft.functions.{TextFunctions => T}
      val e = Tables.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val vTop = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"), V.cosine(col("embedding"), col("qv")).as("vscore"))
        .orderBy(desc("vscore"), col("doc_id")).limit(64)
      val vr = vTop.withColumn("vrank", row_number().over(
        Window.orderBy(desc("vscore"), col("doc_id"))).cast("long"))
      val terms = array(lit("table"), lit("scan"), lit("join"))
      val kTop = Tables.documents(s, d).filter(col("doc_id") =!= 0)
        .select(col("doc_id"),
          size(array_intersect(T.tokenSet(col("text")), terms)).as("kscore"))
        .orderBy(desc("kscore"), col("doc_id")).limit(64)
      val kr = kTop.withColumn("krank", row_number().over(
        Window.orderBy(desc("kscore"), col("doc_id"))).cast("long"))
      vr.join(kr, "doc_id")
        .select(col("doc_id"), col("vrank"), col("krank"),
          (lit(1.0) / (lit(60) + col("vrank"))
            + lit(1.0) / (lit(60) + col("krank"))).as("rrf"))
        .orderBy(desc("rrf"), col("doc_id"))
        .limit(10)
    }),

    // Quantized-scan re-rank — the memory-bounded ANN SERVING pattern
    // (int8 codes in RAM, fp32 in cold storage): the approx pass scores
    // q91's int8-dequantized vectors and keeps top-20 candidates
    // (TakeOrderedAndProject: at scale this scan reads 1-byte codes, 4×
    // less than fp32); only those 20 are re-ranked with exact fp32
    // cosine for the final top-5. in_exact_top5 audits recall inline
    // against the exact top-5 (tie-breaks on vec_id everywhere →
    // deterministic cutoffs). Dequantized cosine uses the HOF fold
    // (arrays are double); the exact passes use the compiled expression.
    "q127_quantized_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
      val deq = emb
        .select(col("vec_id"), col("embedding"),
          (array_max(transform(col("embedding"), x => abs(x.cast("double"))))
            / lit(127.0)).as("scale"))
        .filter(col("scale") > 0)
        .withColumn("deq", transform(col("embedding"),
          x => round(x.cast("double") / col("scale")) * col("scale")))
      val cand = deq.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 7)
        .select(col("vec_id"), col("embedding"), col("qv"),
          V.cosineFold(col("deq"), col("qv")).as("ascore"))
        .orderBy(desc("ascore"), col("vec_id")).limit(20)
      val reranked = cand
        .select(col("vec_id"), V.cosine(col("embedding"), col("qv")).as("escore"))
        .orderBy(desc("escore"), col("vec_id")).limit(5)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("escore"), col("vec_id"))).cast("long"))
      val exact5 = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 7)
        .select(col("vec_id"), V.cosine(col("embedding"), col("qv")).as("x"))
        .orderBy(desc("x"), col("vec_id")).limit(5)
        .select(col("vec_id"))
      reranked.join(broadcast(exact5.withColumn("hit", lit(1L))), Seq("vec_id"), "left")
        .select(col("rank"), col("vec_id"), col("escore"),
          coalesce(col("hit"), lit(0L)).as("in_exact_top5"))
        .orderBy(col("rank"))
    }))

  /** MLlib interop: BucketedRandomProjectionLSH over the embedding column
    * (fixed seed → deterministic buckets). Returns the approx top-k
    * neighbors of `queryVec` by euclidean distance — the library-provided
    * alternative to the hand-rolled IVF in q37; exposed for API
    * completeness and unit-tested (approx results are engine-specific, so
    * no DuckDB oracle). */
  def annLsh(s: SparkSession, d: String, queryVec: Long, k: Int): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.linalg.Vectors
    import org.apache.spark.sql.Row
    val toVec = udf((a: Seq[Float]) =>
      Vectors.dense(a.map(_.toDouble).toArray))
    val df = Tables.embeddings(s, d)
      .select(col("vec_id"), toVec(col("embedding")).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes")
    val model = lsh.fit(df)
    val Row(qv: org.apache.spark.ml.linalg.Vector) =
      df.filter(col("vec_id") === queryVec).select(col("features")).head()
    model.approxNearestNeighbors(df.filter(col("vec_id") =!= queryVec), qv, k)
      .select(col("vec_id"), col("distCol").as("dist"))
      .orderBy(col("dist"), col("vec_id"))
  }

  /** Unrolled DuckDB twin of the k-medians index build (IvfIters rounds).
    * The per-cell grid median — bin to floor(x*Bins), lower-median bin via
    * cumulative bin counts, centroid = bin/Bins — mirrors [[kmediansLong]]
    * bit-for-bit (floor, integer compares, and a power-of-two divide are
    * all IEEE-exact in both engines). Ends with CTEs `cv2` (final centroid
    * vectors) and `assigned` (vec_id → cell), shared by q37 and q104. */
  private lazy val ivfBuildCtes: String = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs per reference,
    // and this chain is 9 deep with multi-referenced stages (assigned,
    // cv2, el) — inlining re-expands the whole upstream build per use,
    // which is the plan/memory blowup that OOM'd the driver's gate on
    // q37. Materialized, each stage computes once into a bounded buffer
    // (el is N·dims rows; everything else is O(N) or O(k·dims)).
    def assignSql(cv: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT vec_id, cid FROM (
            SELECT e.vec_id, v.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${V.sqlCosine("e.embedding", "v.cv")} DESC, v.cid) AS rn
            FROM embeddings e, $cv v) WHERE rn = 1)"""
    def medianSql(assign: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT cid, pos, min(bin) / $Bins.0 AS c FROM (
            SELECT cid, pos, bin,
              sum(cnt) OVER (PARTITION BY cid, pos ORDER BY bin) AS cum,
              sum(cnt) OVER (PARTITION BY cid, pos) AS total
            FROM (SELECT a.cid, el.pos,
                    CAST(floor(el.x * $Bins) AS BIGINT) AS bin, count(*) AS cnt
                  FROM $assign a JOIN el ON a.vec_id = el.vec_id
                  GROUP BY 1, 2, 3))
          WHERE cum * 2 >= total GROUP BY cid, pos)"""
    def vecSql(long: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT cid, list(c ORDER BY pos) AS cv FROM $long GROUP BY cid)"""
    s"""el AS MATERIALIZED (SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS x
               FROM embeddings, range(0, $Dims) t(i)),
        c0 AS MATERIALIZED (SELECT vec_id AS cid, pos, x AS c FROM el WHERE vec_id < $IvfK),
        ${vecSql("c0", "cv0")},
        ${assignSql("cv0", "a1")}, ${medianSql("a1", "c1")}, ${vecSql("c1", "cv1")},
        ${assignSql("cv1", "a2")}, ${medianSql("a2", "c2")}, ${vecSql("c2", "cv2")},
        ${assignSql("cv2", "assigned")}"""
  }

  /** Cosine threshold for q146's within-cell semantic dedup — matches the
    * q35 embedding-near-dup family's verify threshold. */
  private val SemDedupTau = 0.4

  /** Hard bound on the within-cell pair space for the semantic-dedup
    * family (q146/q148) — the embedding analog of
    * [[Dedup.StopShingleCap]]. q146 sub-shards a cell above this
    * population into id-rank blocks of this size (pairs form only within
    * a block → ≤ n·cap/2 pairs total); q148 caps each arrival's
    * reference panel at this many corpus vectors per cell (≤ batch·cap
    * pairs). Sized to ENGAGE at sf0.1 (8 cells × ~250 vectors), so the
    * bound is continuously exercised by the oracle gate, not dormant
    * until a production skew event. */
  private[operators] val SemDedupCellCap = 128

  /** q146's capped within-cell duplicate flags over an (cid, vec_id,
    * embedding) assignment: sub-shard each cell into id-rank blocks of
    * [[SemDedupCellCap]], flag a vector iff a LOWER-id vector in its
    * BLOCK is within [[SemDedupTau]] cosine. Factored so the skew bound
    * is testable against a synthetic hot cell, not just the balanced
    * testdata clustering. Returns distinct (cid, vec_id) flags. */
  private[graft] def semDedupFlags(a: DataFrame): DataFrame = {
    val wCell = Window.partitionBy(col("cid")).orderBy(col("vec_id"))
    val sharded = a.withColumn("shard",
      floor((row_number().over(wCell) - lit(1)) / lit(SemDedupCellCap))
        .cast("long"))
    val l = sharded.select(col("cid"), col("shard"), col("vec_id").as("id_a"),
      col("embedding").as("ea"))
    val r = sharded.select(col("cid"), col("shard"), col("vec_id").as("id_b"),
      col("embedding").as("eb"))
    l.join(r, Seq("cid", "shard"))
      .filter(col("id_a") < col("id_b"))
      .filter(V.cosine(col("ea"), col("eb")) >= SemDedupTau)
      .select(col("cid"), col("id_b").as("vec_id")).distinct()
  }

  /** DuckDB twin of [[kmeansAssign]]: the same 3 assignment passes / 2
    * integer-mean updates, unrolled as CTEs (the q150 BPE convention for
    * iterative algorithms). `a3` is the final (vec_id, label, cid, dist)
    * relation. */
  private def sqlKmCtes: String = {
    def distE(qa: String, ca: String) =
      s"list_sum(list_transform(list_zip($qa, $ca), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    def assign(prev: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT vec_id, label, q, cid, dist FROM (
            SELECT v.vec_id, v.label, v.q, c.cid,
                   ${distE("v.q", "c.q")} AS dist,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY ${distE("v.q", "c.q")}, c.cid) AS rn
            FROM qv v CROSS JOIN $prev c) WHERE rn = 1)"""
    def update(assigned: String, prev: String, out: String) =
      s"""${out}s AS MATERIALIZED (SELECT cid, pos, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
             FROM (SELECT cid, unnest(range(1, ${Dims + 1})) AS pos,
                     unnest(q) AS x FROM $assigned)
             GROUP BY cid, pos),
          $out AS MATERIALIZED (SELECT c.cid, COALESCE(u.q, c.q) AS q FROM $prev c
             LEFT JOIN (SELECT cid, list(sx // n ORDER BY pos) AS q
                        FROM ${out}s GROUP BY cid) u USING (cid))"""
    s"""qv AS MATERIALIZED (SELECT vec_id, label, list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * $KmQScale) AS BIGINT)) AS q
          FROM embeddings),
        kc0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cid, q FROM qv WHERE vec_id < $KmK),
        ${assign("kc0", "a1")},
        ${update("a1", "kc0", "kc1")},
        ${assign("kc1", "a2")},
        ${update("a2", "kc1", "kc2")},
        ${assign("kc2", "a3")}"""
  }

  def oracle: Map[String, String] = Map(
    "q167_retrieval_eval" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
                     FROM embeddings WHERE vec_id < 32),
          sc AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY ${V.sqlCosine("e.embedding", "q.qv")} DESC,
                       e.vec_id) AS rk
                 FROM embeddings e JOIN q ON e.vec_id <> q.qid),
          per AS (SELECT qid, qlabel,
                    CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                      AS BIGINT) AS hits,
                    min(CASE WHEN label = qlabel THEN rk END) AS first_rel
                  FROM sc WHERE rk <= 10 GROUP BY 1, 2)
          SELECT qlabel, count(*) AS n_queries,
            CAST(sum(hits) AS BIGINT) AS hits_at_10,
            CAST(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_with_hit,
            CAST(sum(COALESCE(1000000 // first_rel, 0)) AS BIGINT) AS mrr_sum_micro
          FROM per GROUP BY qlabel ORDER BY qlabel""",

    "q162_gram_matrix" ->
      s"""WITH $sqlGramCtes
          SELECT i, j, s FROM gram ORDER BY i, j""",

    // the same 6 fixed-point power-iteration rounds as powerIterate,
    // unrolled (the q150/q158/q160 convention); the one 128-bit step uses
    // HUGEINT, whose `//` truncates toward zero exactly like BigInt
    "q163_top_pc" -> {
      val rounds = (1 to 6).map { r =>
        s"""w$r AS MATERIALIZED (SELECT gs.i AS pos, CAST(sum(gs.g * v${r - 1}.v) AS BIGINT) AS w
               FROM gs JOIN v${r - 1} ON gs.j = v${r - 1}.pos GROUP BY gs.i),
            n$r AS MATERIALIZED (SELECT max(abs(w)) AS n FROM w$r),
            v$r AS MATERIALIZED (SELECT pos, CAST((CAST(w AS HUGEINT) * 1000000)
                      // (SELECT n FROM n$r) AS BIGINT) AS v FROM w$r)"""
      }.mkString(",\n          ")
      s"""WITH $sqlGramCtes,
          gfull AS MATERIALIZED (SELECT i, j, s FROM gram
                    UNION ALL
                    SELECT j AS i, i AS j, s FROM gram WHERE i <> j),
          sc AS (SELECT greatest(CAST(1 AS BIGINT),
                   max(abs(s)) // 1000000000) AS scale FROM gram),
          gs AS MATERIALIZED (SELECT i, j, s // (SELECT scale FROM sc) AS g FROM gfull),
          v0 AS (SELECT unnest(range(1, ${Dims + 1})) AS pos,
                   CAST(1000000 AS BIGINT) AS v),
          $rounds
          SELECT v6.pos, v6.v,
            CAST(((SELECT n FROM n6) // 1000000) * (SELECT scale FROM sc)
              AS BIGINT) AS lambda_micro
          FROM v6 ORDER BY pos"""
    },

    "q158_kmeans" ->
      s"""WITH $sqlKmCtes
          SELECT cid, count(*) AS n_vecs,
            CAST(sum(dist) AS BIGINT) AS inertia,
            min(vec_id) AS min_vec_id
          FROM a3 GROUP BY cid ORDER BY cid""",

    "q159_cluster_sample" -> {
      import graft.functions.{TextFunctions => TF}
      s"""WITH $sqlKmCtes,
          drawn AS (SELECT vec_id, label, cid, row_number() OVER (
                      PARTITION BY cid ORDER BY
                        ${TF.sqlMd5Prefix("'km' || CAST(vec_id AS VARCHAR)", 8)},
                        vec_id) AS rk
                    FROM a3)
          SELECT cid, count(*) AS n_sampled,
            CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
            CAST(sum(CAST(label AS BIGINT)) AS BIGINT) AS label_sum
          FROM drawn WHERE rk <= $KmSampleCap
          GROUP BY cid ORDER BY cid"""
    },

    // blk-keyed relational twin of the fused block-wise Lloyd's: the
    // same 3 assignment passes / 2 mean updates, then the LUT join and
    // ADC rank — every arithmetic step integer, every tie broken on the
    // lower id (the kmeansAssign conventions, per block)
    "q171_pq_adc" -> {
      val dist = (a: String, b: String) =>
        s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
      def assign(prev: String, out: String) =
        s"""$out AS MATERIALIZED (SELECT vec_id, label, blk, sq, cid FROM (
              SELECT v.vec_id, v.label, v.blk, v.sq, c.cid,
                row_number() OVER (PARTITION BY v.vec_id, v.blk
                  ORDER BY ${dist("v.sq", "c.cq")}, c.cid) AS rn
              FROM qb v JOIN $prev c ON v.blk = c.blk) WHERE rn = 1)"""
      def update(assigned: String, prev: String, out: String) =
        s"""${out}s AS MATERIALIZED (SELECT blk, cid, pos, CAST(sum(x) AS BIGINT) AS sx,
               count(*) AS n
             FROM (SELECT blk, cid, unnest(range(1, ${PqSub + 1})) AS pos,
                     unnest(sq) AS x FROM $assigned)
             GROUP BY 1, 2, 3),
            $out AS MATERIALIZED (SELECT c.blk, c.cid, COALESCE(u.cq, c.cq) AS cq
             FROM $prev c LEFT JOIN
               (SELECT blk, cid, list(sx // n ORDER BY pos) AS cq
                FROM ${out}s GROUP BY blk, cid) u USING (blk, cid))"""
      s"""WITH qv AS MATERIALIZED (SELECT vec_id, label, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * $KmQScale) AS BIGINT)) AS q
              FROM embeddings),
          qb AS MATERIALIZED (SELECT vec_id, label, CAST(t.blk AS INTEGER) AS blk,
                   q[t.blk * $PqSub + 1 : (t.blk + 1) * $PqSub] AS sq
                 FROM qv CROSS JOIN range(0, $PqM) t(blk)),
          pc0 AS MATERIALIZED (SELECT blk, CAST(vec_id AS BIGINT) AS cid, sq AS cq
                  FROM qb WHERE vec_id < $PqK),
          ${assign("pc0", "pa1")},
          ${update("pa1", "pc0", "pu1")},
          ${assign("pu1", "pa2")},
          ${update("pa2", "pu1", "pu2")},
          ${assign("pu2", "pa3")},
          qq AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS qlabel,
                   blk, sq AS qsq
                 FROM qb WHERE vec_id < $PqNq),
          lut AS (SELECT q.qid, q.qlabel, c.blk, c.cid,
                    CAST(${dist("q.qsq", "c.cq")} AS BIGINT) AS pd
                  FROM qq q JOIN pu2 c ON q.blk = c.blk),
          adc AS (SELECT l.qid, l.qlabel, co.vec_id,
                    CAST(sum(l.pd) AS BIGINT) AS adist
                  FROM pa3 co JOIN lut l
                    ON co.blk = l.blk AND co.cid = l.cid
                  WHERE co.vec_id <> l.qid GROUP BY 1, 2, 3),
          atop AS (SELECT qid, qlabel, vec_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY adist, vec_id) AS rn FROM adc)
                   WHERE rn <= $PqTopK),
          qfull AS (SELECT vec_id AS qid, q AS qv FROM qv
                    WHERE vec_id < $PqNq),
          exd AS (SELECT f.qid, e.vec_id,
                    CAST(${dist("e.q", "f.qv")} AS BIGINT) AS edist
                  FROM qv e JOIN qfull f ON e.vec_id <> f.qid),
          etop AS (SELECT qid, vec_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY edist, vec_id) AS rn FROM exd)
                   WHERE rn <= $PqTopK),
          per AS (SELECT a.qid, a.qlabel,
                    CAST(count(e.vec_id) AS BIGINT) AS hits
                  FROM atop a LEFT JOIN etop e
                    ON a.qid = e.qid AND a.vec_id = e.vec_id
                  GROUP BY 1, 2)
          SELECT qlabel, count(*) AS n_queries,
            CAST(sum(hits) AS BIGINT) AS hits_at_10,
            CAST(sum(hits) * 1000000 // (count(*) * $PqTopK) AS BIGINT)
              AS recall_micro
          FROM per GROUP BY qlabel ORDER BY qlabel"""
    },

    // IVFADC twin: the sqlKmCtes coarse build feeds residual PQ training
    // (the q171 round structure, ccid carried through), coarse routing
    // picks IvfPqProbe cells per query, and the ADC joins through
    // (ccid, blk, code)
    "q172_ivfpq_adc" -> {
      val dist = (a: String, b: String) =>
        s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
      def assign(prev: String, out: String) =
        s"""$out AS MATERIALIZED (SELECT vec_id, label, ccid, blk, sq, code FROM (
              SELECT v.vec_id, v.label, v.ccid, v.blk, v.sq, c.code,
                row_number() OVER (PARTITION BY v.vec_id, v.blk
                  ORDER BY ${dist("v.sq", "c.cq")}, c.code) AS rn
              FROM rb v JOIN $prev c ON v.blk = c.blk) WHERE rn = 1)"""
      def update(assigned: String, prev: String, out: String) =
        s"""${out}s AS MATERIALIZED (SELECT blk, code, pos, CAST(sum(x) AS BIGINT) AS sx,
               count(*) AS n
             FROM (SELECT blk, code, unnest(range(1, ${PqSub + 1})) AS pos,
                     unnest(sq) AS x FROM $assigned)
             GROUP BY 1, 2, 3),
            $out AS MATERIALIZED (SELECT c.blk, c.code, COALESCE(u.cq, c.cq) AS cq
             FROM $prev c LEFT JOIN
               (SELECT blk, code, list(sx // n ORDER BY pos) AS cq
                FROM ${out}s GROUP BY blk, code) u USING (blk, code))"""
      s"""WITH $sqlKmCtes,
          rv AS MATERIALIZED (SELECT a.vec_id, a.label, a.cid AS ccid,
                   list_transform(list_zip(a.q, c.q), p -> p[1] - p[2]) AS r
                 FROM a3 a JOIN kc2 c ON a.cid = c.cid),
          rb AS MATERIALIZED (SELECT vec_id, label, ccid, CAST(t.blk AS INTEGER) AS blk,
                   r[t.blk * $PqSub + 1 : (t.blk + 1) * $PqSub] AS sq
                 FROM rv CROSS JOIN range(0, $PqM) t(blk)),
          rc0 AS MATERIALIZED (SELECT blk, CAST(vec_id AS BIGINT) AS code, sq AS cq
                  FROM rb WHERE vec_id < $PqK),
          ${assign("rc0", "ra1")},
          ${update("ra1", "rc0", "ru1")},
          ${assign("ru1", "ra2")},
          ${update("ra2", "ru1", "ru2")},
          ${assign("ru2", "ra3")},
          qf AS MATERIALIZED (SELECT vec_id AS qid, CAST(label AS BIGINT) AS qlabel, q
                 FROM qv WHERE vec_id < $PqNq),
          route AS (SELECT qid, cid FROM (
                      SELECT f.qid, c.cid,
                        row_number() OVER (PARTITION BY f.qid
                          ORDER BY ${dist("f.q", "c.q")}, c.cid) AS rn
                      FROM qf f CROSS JOIN kc2 c)
                    WHERE rn <= $IvfPqProbe),
          qres AS (SELECT f.qid, f.qlabel, ro.cid AS ccid,
                     list_transform(list_zip(f.q, c.q), p -> p[1] - p[2]) AS r
                   FROM qf f JOIN route ro ON f.qid = ro.qid
                   JOIN kc2 c ON ro.cid = c.cid),
          qrb AS (SELECT qid, qlabel, ccid, CAST(t.blk AS INTEGER) AS blk,
                    r[t.blk * $PqSub + 1 : (t.blk + 1) * $PqSub] AS qsq
                  FROM qres CROSS JOIN range(0, $PqM) t(blk)),
          lut AS (SELECT q.qid, q.qlabel, q.ccid, q.blk, c.code,
                    CAST(${dist("q.qsq", "c.cq")} AS BIGINT) AS pd
                  FROM qrb q JOIN ru2 c ON q.blk = c.blk),
          adc AS (SELECT l.qid, l.qlabel, co.vec_id,
                    CAST(sum(l.pd) AS BIGINT) AS adist
                  FROM ra3 co JOIN lut l
                    ON co.ccid = l.ccid AND co.blk = l.blk
                      AND co.code = l.code
                  WHERE co.vec_id <> l.qid GROUP BY 1, 2, 3),
          scn AS (SELECT qid, qlabel, CAST(count(*) AS BIGINT) AS n_scanned
                  FROM adc GROUP BY 1, 2),
          atop AS (SELECT qid, qlabel, vec_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY adist, vec_id) AS rn FROM adc)
                   WHERE rn <= $PqTopK),
          exd AS (SELECT f.qid, e.vec_id,
                    CAST(${dist("e.q", "f.q")} AS BIGINT) AS edist
                  FROM qv e JOIN qf f ON e.vec_id <> f.qid),
          etop AS (SELECT qid, vec_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY edist, vec_id) AS rn FROM exd)
                   WHERE rn <= $PqTopK),
          per AS (SELECT a.qid, a.qlabel,
                    CAST(count(e.vec_id) AS BIGINT) AS hits
                  FROM atop a LEFT JOIN etop e
                    ON a.qid = e.qid AND a.vec_id = e.vec_id
                  GROUP BY 1, 2)
          SELECT p.qlabel, count(*) AS n_queries,
            CAST(sum(p.hits) AS BIGINT) AS hits_at_10,
            CAST(sum(p.hits) * 1000000 // (count(*) * $PqTopK) AS BIGINT)
              AS recall_micro,
            CAST(sum(s.n_scanned) AS BIGINT) AS sum_scanned
          FROM per p JOIN scn s ON p.qid = s.qid
          GROUP BY p.qlabel ORDER BY p.qlabel"""
    },

    "q148_incremental_semdedup" ->
      s"""WITH $ivfBuildCtes,
          av AS (SELECT a.cid, a.vec_id, e.embedding
                 FROM assigned a JOIN embeddings e USING (vec_id)),
          fresh AS (SELECT * FROM av WHERE vec_id % 10 >= 8),
          corp AS (SELECT cid, vec_id, embedding FROM (
                     SELECT *, row_number() OVER (
                       PARTITION BY cid ORDER BY vec_id) AS rn
                     FROM av WHERE vec_id % 10 < 8)
                   WHERE rn <= $SemDedupCellCap),
          flagged AS (SELECT DISTINCT f.cid, f.vec_id
                      FROM fresh f JOIN corp c ON f.cid = c.cid
                      WHERE ${V.sqlCosine("f.embedding", "c.embedding")} >= $SemDedupTau)
          SELECT CAST(f.cid AS BIGINT) AS cid, count(*) AS n_new,
            CAST(count(d.vec_id) AS BIGINT) AS n_flagged
          FROM fresh f LEFT JOIN flagged d
            ON f.cid = d.cid AND f.vec_id = d.vec_id
          GROUP BY f.cid ORDER BY f.cid""",

    "q146_semantic_dedup" ->
      s"""WITH $ivfBuildCtes,
          av AS (SELECT a.cid, a.vec_id, e.embedding
                 FROM assigned a JOIN embeddings e USING (vec_id)),
          avs AS (SELECT *, CAST(floor((row_number() OVER (
                    PARTITION BY cid ORDER BY vec_id) - 1)
                    / $SemDedupCellCap) AS BIGINT) AS shard FROM av),
          dups AS (SELECT DISTINCT y.cid, y.vec_id
                   FROM avs x JOIN avs y
                     ON x.cid = y.cid AND x.shard = y.shard
                       AND x.vec_id < y.vec_id
                   WHERE ${V.sqlCosine("x.embedding", "y.embedding")} >= $SemDedupTau)
          SELECT CAST(av.cid AS BIGINT) AS cid, count(*) AS n,
            CAST(count(d.vec_id) AS BIGINT) AS n_dup
          FROM av LEFT JOIN dups d
            ON av.cid = d.cid AND av.vec_id = d.vec_id
          GROUP BY av.cid ORDER BY av.cid""",
    "q36_knn_bruteforce" ->
      s"""SELECT qid, rank, vec_id, score FROM (
            SELECT qid, vec_id, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
            FROM (SELECT q.vec_id AS qid, e.vec_id AS vec_id,
                    ${V.sqlCosine("e.embedding", "q.embedding")} AS score
                  FROM embeddings e, embeddings q
                  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id))
          WHERE rank <= 5 ORDER BY qid, rank""",

    "q137_knn_label_probe" ->
      s"""WITH scored AS (
            SELECT q.vec_id AS qid, q.label AS qlabel,
              e.vec_id AS vec_id, e.label AS label,
              ${V.sqlCosine("e.embedding", "q.embedding")} AS score
            FROM embeddings e, embeddings q
            WHERE q.vec_id % 25 = 0 AND e.vec_id <> q.vec_id),
          top5 AS (SELECT * FROM (
            SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
            FROM scored) WHERE rank <= 5),
          votes AS (SELECT qid, qlabel, label, count(*) AS votes
                    FROM top5 GROUP BY qid, qlabel, label),
          pred AS (SELECT qid, qlabel, label AS pred FROM (
            SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY votes DESC, label) AS vr
            FROM votes) WHERE vr = 1)
          SELECT qlabel AS label, count(*) AS n_probes,
            CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
              AS n_correct
          FROM pred GROUP BY qlabel ORDER BY label""",

    "q37_ivf_ann" ->
      s"""WITH $ivfBuildCtes,
          q AS (SELECT cid AS qcid FROM assigned WHERE vec_id = 42),
          qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42)
          SELECT a.vec_id, a.cid, ${V.sqlCosine("e.embedding", "qe")} AS score
          FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id, q, qv
          WHERE a.cid = q.qcid AND a.vec_id <> 42
          ORDER BY score DESC, a.vec_id LIMIT 5""",

    "q104_ivf_recall" ->
      s"""WITH $ivfBuildCtes,
          qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
          cellrank AS (
            SELECT v.cid,
              row_number() OVER (ORDER BY ${V.sqlCosine("v.cv", "qe")} DESC, v.cid) AS prn
            FROM cv2 v, qv),
          cand AS (SELECT a.vec_id, cr.prn,
                     ${V.sqlCosine("e.embedding", "qe")} AS score
                   FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
                     JOIN cellrank cr ON a.cid = cr.cid, qv
                   WHERE a.vec_id <> 42),
          np AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
          ranked AS (SELECT np.n_probe, c.vec_id,
                       row_number() OVER (PARTITION BY np.n_probe
                         ORDER BY c.score DESC, c.vec_id) AS rnk
                     FROM cand c JOIN np ON c.prn <= np.n_probe),
          exact AS (SELECT e.vec_id FROM embeddings e, qv
                    WHERE e.vec_id <> 42
                    ORDER BY ${V.sqlCosine("e.embedding", "qe")} DESC, e.vec_id LIMIT 5),
          hits AS (SELECT n_probe, count(*) AS h FROM ranked
                   WHERE rnk <= 5 AND vec_id IN (SELECT vec_id FROM exact)
                   GROUP BY n_probe)
          SELECT CAST(42 AS BIGINT) AS qid, CAST(np.n_probe AS BIGINT) AS n_probe,
            CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
            coalesce(h.h, 0) / 5.0 AS recall
          FROM np LEFT JOIN hits h USING (n_probe) ORDER BY n_probe""",

    "q92_hard_negatives" ->
      s"""SELECT qid, rank, vec_id, label, score FROM (
            SELECT qid, vec_id, label, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
            FROM (SELECT q.vec_id AS qid, e.vec_id AS vec_id, e.label AS label,
                    ${V.sqlCosine("e.embedding", "q.embedding")} AS score
                  FROM embeddings e, embeddings q
                  WHERE q.vec_id < 5 AND e.label <> q.label))
          WHERE rank <= 3 ORDER BY qid, rank""",

    "q98_winsorize_dims" ->
      s"""WITH v AS (
           SELECT i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, (SELECT unnest(range(1, ${Dims + 1})) AS i)),
         pct AS (
           SELECT pos, quantile_cont(v, 0.05) AS p05, quantile_cont(v, 0.95) AS p95
           FROM v GROUP BY pos)
         SELECT v.pos, min(p.p05) AS p05, min(p.p95) AS p95,
           count(*) FILTER (WHERE v.v < p.p05) AS n_below,
           count(*) FILTER (WHERE v.v > p.p95) AS n_above
         FROM v JOIN pct p ON v.pos = p.pos
         GROUP BY v.pos ORDER BY v.pos""",

    "q91_int8_quant" ->
      """SELECT vec_id, scale,
           CAST(list_sum(q) AS BIGINT) AS sum_q,
           CAST(len(list_filter(q, x -> x <> 0)) AS BIGINT) AS nnz,
           list_max([abs(CAST(embedding[i + 1] AS DOUBLE) - CAST(q[i + 1] AS DOUBLE) * scale)
             FOR i IN range(0, 64)]) AS max_err
         FROM (SELECT vec_id, embedding, scale,
                 [CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER) FOR x IN embedding] AS q
               FROM (SELECT vec_id, embedding,
                       CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127 AS scale
                     FROM embeddings))
         WHERE scale > 0 ORDER BY vec_id""",

    "q64_hybrid_rrf" -> {
      val tokSet = graft.functions.TextFunctions.sqlTokSet
      s"""WITH vtop AS (
            SELECT e.vec_id AS doc_id,
              ${V.sqlCosine("e.embedding", "q.embedding")} AS vscore
            FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
            ORDER BY vscore DESC, doc_id LIMIT 64),
          vr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY vscore DESC, doc_id) AS vrank
                 FROM vtop),
          ktop AS (
            SELECT doc_id,
              len(list_intersect($tokSet, ['table', 'scan', 'join'])) AS kscore
            FROM documents WHERE doc_id <> 0
            ORDER BY kscore DESC, doc_id LIMIT 64),
          kr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY kscore DESC, doc_id) AS krank
                 FROM ktop)
          SELECT doc_id, vrank, krank,
            CAST(1 AS DOUBLE) / (60 + vrank) + CAST(1 AS DOUBLE) / (60 + krank) AS rrf
          FROM vr JOIN kr USING (doc_id)
          ORDER BY rrf DESC, doc_id LIMIT 10"""
    }) ++ Map(
    "q127_quantized_rerank" ->
      s"""WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
          dq AS (SELECT vec_id, embedding,
                   [round(CAST(x AS DOUBLE) / scale) * scale FOR x IN embedding] AS deq
                 FROM (SELECT vec_id, embedding,
                         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS scale
                       FROM embeddings)
                 WHERE scale > 0),
          cand AS (SELECT vec_id, embedding, ${V.sqlCosine("deq", "qe")} AS ascore
                   FROM dq, qv WHERE vec_id <> 7
                   ORDER BY ascore DESC, vec_id LIMIT 20),
          rr AS (SELECT vec_id, ${V.sqlCosine("embedding", "qe")} AS escore
                 FROM cand, qv
                 ORDER BY escore DESC, vec_id LIMIT 5),
          ranked AS (SELECT vec_id, escore,
                       row_number() OVER (ORDER BY escore DESC, vec_id) AS rank
                     FROM rr),
          exact5 AS (SELECT e.vec_id FROM embeddings e, qv WHERE e.vec_id <> 7
                     ORDER BY ${V.sqlCosine("e.embedding", "qe")} DESC, e.vec_id LIMIT 5)
          SELECT CAST(rank AS BIGINT) AS rank, r.vec_id, r.escore,
            CAST(CASE WHEN r.vec_id IN (SELECT vec_id FROM exact5)
                 THEN 1 ELSE 0 END AS BIGINT) AS in_exact_top5
          FROM ranked r ORDER BY rank""")
}
