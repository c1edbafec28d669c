package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.{VectorFunctions => V}
import graft.sources.Tables.table

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two paths, per the north star: exact brute-force cosine top-k as the
  * correctness baseline (oracle-checked against DuckDB), and a
  * random-hyperplane LSH bucketed variant as the scale path — at 100 TB the
  * bucket join touches ~1/2^bits of the corpus per query instead of all of
  * it, trading bounded recall for a candidate set that fits a shuffle.
  */
object Ann {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Ann")

  val K = 10

  /** Deterministic hyperplanes (fixed seed — no runtime randomness, so
    * results are reproducible across runs/clusters).
    */
  def planes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Exact brute-force cosine top-k for query vectors (vec_id < 10) against
    * the whole corpus (oracle-checked). The small query side is broadcast,
    * so the big side streams once with no shuffle; ranking shuffles only
    * (corpus x nQueries) rows. Rank key is round(cos, 6) + vec_id so the
    * ordering is reproducible cross-engine.
    */
  /** The embeddings scan, spread for the corpus-side per-row vector
    * math (signature/assignment/encode/cosine passes) when the backing
    * file cannot split wide enough to reach the session's parallelism
    * (graft.engine.Partitioning.spreadIfNarrow; no exchange on a wide
    * production scan). Unlike the text family's tokenizes — where the
    * spread measured a LOSS and was reverted — these passes are dense
    * 64-dim float kernels (nTables hyperplane signatures, k-centroid
    * argmins, PQ sub-codebook scans, candidate cosines): the r21 stage
    * profile showed them as the serial 0.2–0.9 s single-task stages
    * that dominate ann_recall's execution. Query sides (vec_id < 10)
    * stay on the plain scan: they broadcast, and an exchange under a
    * broadcast build is pure cost.
    */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    graft.engine.Partitioning.spreadIfNarrow(
      s, table(s, dir, "embeddings"), s"$dir/embeddings.parquet")

  def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("cand_id").asc)
    c.join(broadcast(q), col("q_id") =!= col("cand_id"))
      .withColumn("cos_r", round(V.cosine(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_r"))
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    * vector to one of nCentroids cells; each query probes only its nProbe
    * nearest cells and re-ranks candidates by exact cosine. Oracle-checked
    * via the fitted-literal device: the oracle generator looks the
    * centroid matrix up in the pure memoized fit cache BY DUMP DIR
    * ([[cachedCentroids]] — no mutable last-fit state), and Verify
    * (which dumps oracle SQL AFTER running the queries) interpolates
    * those same literals into a DuckDB mirror of the assignment +
    * probe + re-rank pipeline — so cell assignment, probe choice, and
    * ranking are all independently recomputed by the second engine.
    *
    * Scale shape: the quantizer fits on a bounded deterministic sample
    * (never the full corpus), assignments are one codegen'd pass, probe
    * assignment is computed IN THE PLAN (centroid matrix broadcast as a
    * literal — it's nCentroids x dim doubles), and the probe join touches
    * ~nProbe/nCentroids of the corpus per query. Nothing per-vector ever
    * reaches the driver, so the query set may itself be a table.
    */

  /** KMeans fit-sample cap: the quantizer sees at most this many vectors.
    * Centroid quality converges long before this; the fit must not scale
    * with the corpus.
    */
  val FitSampleMax = 100000L

  /** Default IVF operating point — calibrated on the synthetic
    * embeddings to clear [[IvfRecallMin]] at every SF (see the measured
    * table at [[LshRecallMin]]).
    */
  val IvfCentroids = 16
  val IvfProbe = 8

  /** The fitted centroid matrix for (dir, k), if [[fitCentroids]] ran in
    * this JVM — the oracle generators' lookup (keyed by the DUMP dir, so
    * there is no last-query-wins state: a fit against another dir or
    * with other knobs can never leak into this dir's oracle; a missing
    * fit degrades to the rows-only oracle, fail-closed).
    */
  def cachedCentroids(dir: String, k: Int = IvfCentroids)
      : Option[Array[Array[Double]]] = Option(fitCache.get((dir, k)))

  /** Fit the KMeans coarse quantizer on a bounded deterministic sample
    * — shared by [[annIvf]] and Dedup.dedupSemantic. The returned
    * centroid matrix is what both the plan (broadcast literals) and the
    * DuckDB oracles (cached literals) consume. nCentroids is the
    * corpus-scaling knob: production SemDeDup/IVF picks k ~ sqrt(N) and
    * up, so cells stay bounded as the corpus grows.
    */
  def fitCentroids(s: SparkSession, dir: String,
                   nCentroids: Int): Array[Array[Double]] =
    // the fit is seeded and the sample deterministic, so per-(dir, k)
    // memoization is pure for immutable table dirs (the operating
    // assumption everywhere here; a pipeline that rewrites a dir in
    // place needs a new session or key) — it saves the repeated ~1 s
    // MLlib fit when several queries share a quantizer in one session
    // (annIvf, annRecall, dedupSemantic; a bench pass hits each)
    fitCache.computeIfAbsent((dir, nCentroids), { _ =>
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val e = table(s, dir, "embeddings")
        .withColumn("vec", array_to_vector(col("embedding")))
      val model = new KMeans().setK(nCentroids).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("vec").setPredictionCol("cell")
      // this count prunes to zero columns (parquet row counting, near
      // metadata speed) and buys the right sample fraction — far cheaper
      // than the 10 full KMeans passes an unsampled fit would cost
      val corpusN = e.count()
      val fitSet = if (corpusN <= FitSampleMax) e
        else e.sample(withReplacement = false,
          FitSampleMax.toDouble / corpusN, seed = 42L)
      model.fit(fitSet).clusterCenters.map(_.toArray)
    })

  private val fitCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Array[Array[Double]]]()

  /** Squared-L2 distances of a vector column to every centroid, as one
    * literal-array expression — the shared assignment formula both
    * engines evaluate (argmin over it = cell; first-min index = lowest
    * cell wins ties).
    */
  def centroidDists(v: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.map(c => V.l2sq(v, array(c.map(lit): _*))): _*)

  /** Above this many cells, flat argmin assignment (n·k distance
    * evaluations) switches to [[twoLevelCell]] (n·~2√k) — the SemDeDup
    * "assignment strategy switch" SCALING.md documents, as code. 64 is
    * far above every test-SF cluster count (16), so the exact flat path
    * — and every oracle — is untouched where the gate runs.
    */
  val TwoLevelAssignThreshold = 64

  /** Deterministic driver-side Lloyd's k-means over a SMALL point set —
    * the super-quantizer fit for two-level assignment (points = the k
    * fitted centroids, so k ≤ a few thousand; this never sees corpus
    * data). Evenly-strided init, squared-L2, lowest-index tie-break,
    * empty clusters keep their previous center; pure function of its
    * inputs, so the oracle generator recomputes the identical structure
    * from the cached centroid literals.
    */
  def miniKmeans(points: Array[Array[Double]], k: Int, iters: Int = 10)
      : (Array[Array[Double]], Array[Int]) = {
    val n = points.length
    require(k >= 1 && k <= n, s"k=$k outside [1,$n]")
    val dim = points(0).length
    var centers =
      Array.tabulate(k)(i => points((i.toLong * n / k).toInt).clone())
    val assign = new Array[Int](n)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      var changed = false
      var i = 0
      while (i < n) {
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var j = 0
          while (j < dim) {
            val t = points(i)(j) - centers(c)(j); d += t * t; j += 1
          }
          if (d < bd) { bd = d; best = c } // strict <: lowest index wins
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Int](k)
      var i2 = 0
      while (i2 < n) {
        val a = assign(i2)
        cnt(a) += 1
        var j = 0
        while (j < dim) { sums(a)(j) += points(i2)(j); j += 1 }
        i2 += 1
      }
      centers = Array.tabulate(k)(c =>
        if (cnt(c) == 0) centers(c)
        else Array.tabulate(dim)(j => sums(c)(j) / cnt(c)))
      converged = !changed
      it += 1
    }
    (centers, assign)
  }

  /** Two-level cell assignment: argmin over ~√k super-centroids picks a
    * branch, and ONLY that branch's children get exact distances — a
    * chained CASE whose codegen evaluates the single matched branch per
    * row, so runtime is n·(√k + k/√k) while the flat path is n·k. The
    * assigned cell is the exact argmin WITHIN the chosen super (a
    * standard coarse-quantization approximation — production SemDeDup
    * assignment is approximate for the same reason); ties resolve to
    * the lowest cell id at both levels. Empty supers are dropped, so
    * every reachable branch has children. Returns the GLOBAL cell id.
    */
  /** The super-quantizer structure [[twoLevelCell]] assigns through —
    * exposed so the oracle generator mirrors the IDENTICAL branches:
    * (super-centroid vector, its member cell ids) per non-empty branch,
    * in branch order. Pure function of the centroid matrix.
    */
  def twoLevelStructure(centroids: Array[Array[Double]])
      : Seq[(Array[Double], Seq[Int])] = {
    val k = centroids.length
    val sCount = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val (supers, membership) = miniKmeans(centroids, sCount)
    (0 until sCount)
      .map(si => supers(si) ->
        membership.indices.filter(membership(_) == si).toSeq)
      .filter(_._2.nonEmpty)
  }

  def twoLevelCell(v: Column, centroids: Array[Array[Double]]): Column = {
    val branches = twoLevelStructure(centroids)
    val superDists = array(branches.map { case (sc, _) =>
      V.l2sq(v, array(sc.map(lit): _*))
    }: _*)
    val superIdx =
      (array_position(superDists, array_min(superDists)) - 1).cast("int")
    def argminCellOver(ids: Seq[Int]): Column = {
      val dists = array(ids.map(ci =>
        V.l2sq(v, array(centroids(ci).map(lit): _*))): _*)
      val localIdx = array_position(dists, array_min(dists)).cast("int")
      element_at(array(ids.map(i => lit(i)): _*), localIdx)
    }
    branches.zipWithIndex.tail.foldLeft(
      argminCellOver(branches.head._2): Column) {
      case (elseE, ((_, ids), bi)) =>
        when(superIdx === bi, argminCellOver(ids)).otherwise(elseE)
    }
  }

  /** Cell assignment as the native [[graft.functions.VecCellAssign]]
    * expression: flat strict-< argmin at/below
    * [[TwoLevelAssignThreshold]] cells, the [[twoLevelStructure]]
    * coarse-then-fine walk above it — bit-identical to the Column
    * formulations ([[centroidDists]]+argmin / [[twoLevelCell]]) in both
    * modes (PipelineSpec pins the parity on real corpus data), but with
    * the centroid matrix as ONE reference object instead of k×dim
    * Literal nodes, so per-row cost is a primitive loop rather than
    * per-centroid boxed array materialization.
    */
  def cellAssign(v: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    val childE = GraftSqlBridge.expression(v)
    val e =
      if (centroids.length <= TwoLevelAssignThreshold)
        graft.functions.VecCellAssign(childE,
          centroids.map(_.toSeq).toSeq, Nil, Nil)
      else {
        val bs = twoLevelStructure(centroids)
        graft.functions.VecCellAssign(childE,
          centroids.map(_.toSeq).toSeq,
          bs.map(_._1.toSeq), bs.map(_._2))
      }
    GraftSqlBridge.column(e)
  }

  def annIvf(s: SparkSession, dir: String, nCentroids: Int = IvfCentroids,
             nProbe: Int = IvfProbe): DataFrame = {
    val centroids = fitCentroids(s, dir, nCentroids)
    // Corpus assignment in the plan, NOT via MLlib transform: the
    // native [[cellAssign]] expression (flat strict-< argmin at the
    // default k=16 — bit-identical to the literal-argmin formula the
    // DuckDB oracle mirrors, so assignment is engine-agreed; two-level
    // above [[TwoLevelAssignThreshold]], the production-k path whose
    // literal tree would otherwise carry k×dim nodes — the
    // dedup_semantic ×100 lesson).
    val assigned = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        cellAssign(col("embedding"), centroids).as("cell"))
    // Probe selection in the plan via the native [[cellTopN]]
    // expression: the nProbe nearest cells per query, ranked
    // (squared-L2 asc, cell asc) in one primitive per-row loop — no
    // literal centroid array (the matrix is a reference object), no
    // window shuffle of (queries × k) rows, and no .collect() of query
    // vectors (the query set may itself be a table).
    val probeDf = table(s, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(cellTopN(col("embedding"), centroids, nProbe)).as("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("cand_id").asc)
    assigned.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("cell"))
      .join(broadcast(probeDf), Seq("cell"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("cos_r", round(V.cosine(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_r"),
        col("cell"))
  }

  // ------------------------------------------------- incremental ingest

  /** vec_id carve for the incremental-ingest shape: `% 10 == 7` plays
    * the newly-ingested delta, the rest the standing indexed corpus —
    * the same device as Dedup.IndexDeltaMod/Rem on doc_id.
    */
  val IncDeltaMod = 10L
  val IncDeltaRem = 7L

  /** Cells for the incremental IVF index: holds ~[[IncTargetCell]]
    * corpus rows per cell, floored at the historical [[IvfCentroids]]
    * — the size-adaptive contract every geometry knob here follows
    * (fixed point at every test SF: 2000-row sf0.1 → exactly 16, so
    * oracles stay hash-identical at the gates). A FIXED cell count is
    * the ×10 ScaleBench lesson re-learned on the ingest path: with the
    * query side scaling alongside the corpus, constant k makes
    * per-query candidates ∝ N and the probe join quadratic — measured
    * 10.1× for ×10 data before this knob, see SCALING.md. Cell-count
    * growth ∝ N keeps candidates per query CONSTANT; the probe-side
    * centroid ranking grows ∝ k per query and stays the smaller term
    * through ×100 (two-level probe ranking is the next refinement
    * beyond that, the same walk [[cellAssign]] already does).
    */
  val IncTargetCell = 128L
  def ivfCellsFor(n: Long): Int =
    math.max(IvfCentroids, ((n + IncTargetCell - 1) / IncTargetCell).toInt)

  /** EXACT flat argmin assignment regardless of cell count: the
    * incremental index must agree with the probe side's exact
    * all-cells ranking and the oracle's literal argmin AT EVERY SCALE
    * — [[cellAssign]]'s two-level walk is an approximation that can
    * diverge above [[TwoLevelAssignThreshold]] cells (fine for
    * dedup_semantic, whose oracle mirrors the walk; wrong here, where
    * a corpus vector assigned to a non-argmin cell is invisible to the
    * exactly-ranked probe and a delta twin can miss it).
    * [[graft.functions.VecCellAssign]] holds the matrix as one
    * reference object, so the flat loop at k≈1500 cells is a primitive
    * scan, not a literal-tree blowup.
    */
  def cellAssignExact(v: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.functions.VecCellAssign(
      GraftSqlBridge.expression(v),
      centroids.map(_.toSeq).toSeq, Nil, Nil))
  }

  /** Prefix width of the two-level probe walk, as a multiple of the
    * probe count: supers are taken in (dist, branch) rank order until
    * their members number ≥ `ProbeOverscan × nProbe` — headroom so a
    * near cell hiding just past the first branch boundary is still
    * ranked. Mirrored verbatim by the oracle generator's walk SQL.
    */
  val ProbeOverscan = 2

  /** Top-nProbe cell selection as the native
    * [[graft.functions.VecCellTopN]] expression: exact flat ranking
    * over all cells at/below [[TwoLevelAssignThreshold]] (every test
    * SF — bit-identical to the window-rank probe it replaces, so all
    * gate oracles are unchanged), the coarse-then-fine prefix walk
    * above it (the [[twoLevelStructure]] supers — the probe-side twin
    * of [[cellAssign]]'s switch, generalized from argmin to top-n).
    * The expression holds the matrix as one reference object: per-row
    * cost ~(√k + prefix members) above the switch instead of k, and
    * NO exchange in the plan for probe selection at any k.
    */
  def cellTopN(v: Column, centroids: Array[Array[Double]],
               nProbe: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    val childE = GraftSqlBridge.expression(v)
    val e =
      if (centroids.length <= TwoLevelAssignThreshold)
        graft.functions.VecCellTopN(childE,
          centroids.map(_.toSeq).toSeq, Nil, Nil, nProbe, ProbeOverscan)
      else {
        val bs = twoLevelStructure(centroids)
        graft.functions.VecCellTopN(childE,
          centroids.map(_.toSeq).toSeq,
          bs.map(_._1.toSeq), bs.map(_._2), nProbe, ProbeOverscan)
      }
    GraftSqlBridge.column(e)
  }

  /** The persisted IVF index artifact for dir's standing corpus
    * (vec_id, embedding, cell — built ONCE per dir via the session's
    * standing quantizer, read back by every incremental batch). The
    * lake table an ingest pipeline appends to: at 100 TB the corpus's
    * assignments are an artifact, never a per-query recomputation.
    * Mirrors Dedup.minhashIndexPath exactly (tmp-dir keyed by dir
    * hash, write-once memoized).
    *
    * Quantizer provenance, stated precisely: the cell count AND the
    * KMeans fit are derived from the FULL embeddings table — including
    * the `vec_id % 10 == 7` delta carve — not from the corpus carve
    * alone. Deliberate: the delta is a uniform 10% modulus sample of
    * the same distribution (the fitted centroids are statistically the
    * standing corpus's), and at every test SF the derived k equals
    * [[IvfCentroids]], so the fit shares ann_ivf's `(dir, 16)` cache
    * entry — one quantizer per dir, and the oracle generator reads the
    * SAME cached count/centroids, so both engines always agree. What
    * "no refit" means here is no refit PER BATCH: arriving deltas are
    * assigned through the standing fit, never re-cluster it.
    */
  def ivfIndexPath(s: SparkSession, dir: String): String =
    ivfIndexCache.computeIfAbsent(dir, { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val path = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft-ivf-index-${md.take(12)}").getAbsolutePath
      val centroids =
        fitCentroids(s, dir, ivfCellsFor(corpusCount(s, dir)))
      // Partitioned BY CELL — the IVF lake layout: a probe that wants
      // nProbe cells reads nProbe directories, not the corpus. One
      // shuffle on cell so each cell directory holds one file.
      table(s, dir, "embeddings")
        .filter(col("vec_id") % IncDeltaMod =!= IncDeltaRem)
        .select(col("vec_id"), col("embedding"),
          cellAssignExact(col("embedding"), centroids).as("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      // file-listing manifest (the Dedup index device): per-batch
      // probes read explicit matching cell files instead of paying
      // whole-tree partition discovery — measured on the ×100
      // artifact's 1.5k cell dirs to cost MORE per batch than the
      // flat scan it was meant to beat
      Dedup.writeFilesManifest(path)
      path
    })
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Incremental ANN ingest: newly-arrived delta vectors searched
    * against the PERSISTED corpus index with NO per-batch refit and NO
    * corpus re-assignment — the quantizer is the dir's standing one
    * (the shared per-dir fit cache, fitted over the full table; see
    * the provenance note on [[ivfIndexPath]]), the
    * corpus's cells come back from the [[ivfIndexPath]] parquet
    * artifact, and only the delta is assigned fresh. Top-K cosine
    * neighbors per delta vector from the nProbe nearest cells — the
    * ingest-time "find my neighbors in the standing index" query of a
    * production vector pipeline (annIvf is the standing-corpus twin;
    * the probe/rank formulation is shared shape-for-shape so the
    * oracle generator mirrors both from the same cached literals).
    *
    * Scale shape: per batch, delta-side probe selection linear in
    * batch size (the native [[cellTopN]] walk — no window shuffle, no
    * literal centroid tree, coarse-then-fine above
    * [[TwoLevelAssignThreshold]] cells so per-query ranking is ~√k
    * instead of k), and the index side read FROM ITS CELL PARTITIONS:
    * the artifact is partitioned by cell and the broadcast probe join
    * triggers Spark's dynamic partition pruning, so the scan lists
    * only directories whose cell appears in some query's probe set —
    * for a batch-sized delta that is (≤ batch × nProbe) directories of
    * a corpus-sized artifact (AnnProbeSpec pins the pruning with
    * executed-plan file metrics). This registry query's delta is the
    * 10% carve whose probes cover every cell, so the prune is inert
    * here by design; it bites exactly where the ingest shape needs it.
    */
  def annIncremental(s: SparkSession, dir: String,
                     nProbe: Int = IvfProbe): DataFrame = {
    val centroids =
      fitCentroids(s, dir, ivfCellsFor(corpusCount(s, dir)))
    val index = s.read.parquet(ivfIndexPath(s, dir))
    val probeDf = incrementalProbes(
      table(s, dir, "embeddings")
        .filter(col("vec_id") % IncDeltaMod === IncDeltaRem),
      centroids, nProbe)
    incrementalRank(probeDf, index)
  }

  /** Probe-set construction of the incremental ANN search — (q_id, qe,
    * cell) exploded over each query's [[cellTopN]] probe walk. Shared
    * verbatim by [[annIncremental]] and the streaming ingest fold
    * ([[graft.streaming.AnnStream]]) so the fold runs the IDENTICAL
    * arithmetic — the same single-sourcing device as
    * [[Dedup.incrementalCandidates]].
    */
  def incrementalProbes(queries: DataFrame,
                        centroids: Array[Array[Double]],
                        nProbe: Int = IvfProbe): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
      explode(cellTopN(col("embedding"), centroids, nProbe)).as("cell"))

  /** Read a cell-partitioned IVF artifact pruned to `cells` — the
    * explicit-path lake read ([[Dedup.readBandIndexPruned]]'s device,
    * keyed on cell): file paths come from the `_graft_files` manifest
    * filtered by cell prefix, so a batch-sized probe costs ZERO
    * directory listings at any artifact size — whole-tree partition
    * discovery over the ×100 artifact's ~1.5k cell dirs measured MORE
    * per batch than a flat full scan, the same trap the dedup index
    * hit at 6.3k dirs. The `basePath` option keeps `cell` as a
    * partition column parsed from each file's path. Coverage guard:
    * a probe touching most cells reads every manifest file instead
    * (pruning would buy nothing); a missing manifest (legacy layout)
    * falls back to the discovery read.
    */
  def readCellsPruned(s: SparkSession, path: String,
                      cells: Seq[Int]): DataFrame =
    Dedup.indexFilesManifest(path) match {
      case Some(all) if all.nonEmpty =>
        val present = all.flatMap(Dedup.bucketPrefix).distinct
        val want = cells.map(c => s"cell=$c").toSet
        // coverage ratio counts only cells the artifact actually HOLDS:
        // probed-but-absent cells contribute no files either way, so
        // counting them (cells.length) inflated the ratio and could
        // needlessly trip the whole-artifact read on sparse artifacts
        val hit = present.count(want.contains)
        val files =
          if (hit * 2 >= present.length) all.map(f => s"$path/$f")
          else Dedup.manifestFiles(path, want).get
        if (files.isEmpty)
          s.read.option("basePath", path).parquet(path).limit(0)
        else s.read.option("basePath", path).parquet(files: _*)
      case _ => s.read.parquet(path)
    }

  /** Rank tier of the incremental ANN search: broadcast the (small)
    * probe set against the cell-partitioned index — the broadcast join
    * on `cell` is what triggers dynamic partition pruning on the
    * artifact scan — then top-[[K]] cosine per query on the
    * (cos desc, cand_id) key the generated oracle mirrors. Shared by
    * [[annIncremental]] and the streaming fold (see
    * [[incrementalProbes]]).
    */
  def incrementalRank(probes: DataFrame, index: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("cand_id").asc)
    index.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .withColumn("cos_r", round(V.cosine(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_r"),
        col("cell"))
  }

  // ------------------------------------------------- product quantization

  /** PQ geometry: 64 dims = [[PqSub]] subspaces x [[PqSubDim]] dims,
    * [[PqCodes]] centroids per subspace — a vector compresses to 8
    * 4-bit codes (4 bytes vs 256: a 64x cut; the codebook itself is
    * 8 x 16 x 8 doubles, always broadcastable). At 100 TB the index the
    * ANN layer actually scans is the CODES column — PQ is what makes a
    * corpus-sized in-memory index possible at all (Jégou et al., TPAMI
    * 2011), and composes with IVF (scan codes only in probed cells).
    */
  val PqSub = 8
  val PqSubDim = 8
  val PqCodes = 16

  /** Seed family for the per-subspace KMeans fits — disjoint from
    * [[lshSeed]] and the global fit seed 42.
    */
  def pqSeed(m: Int): Long = 5042L + m

  /** The fitted codebooks for dir, if [[fitPqCodebooks]] ran in this JVM
    * — the [[cachedCentroids]] lookup discipline for the PQ oracle.
    */
  def cachedPqCodebooks(dir: String): Option[Array[Array[Array[Double]]]] =
    Option(pqFitCache.get(dir))

  /** Fit the [[PqSub]] per-subspace codebooks on one bounded
    * deterministic sample (cached across the 8 fits; the fit never
    * scales with the corpus — [[FitSampleMax]], as in [[fitCentroids]]).
    */
  def fitPqCodebooks(s: SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    pqFitCache.computeIfAbsent(dir, { _ =>
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val e = table(s, dir, "embeddings")
      val corpusN = e.count()
      val fitSet = (if (corpusN <= FitSampleMax) e
        else e.sample(withReplacement = false,
          FitSampleMax.toDouble / corpusN, seed = 42L))
        .select(col("embedding")).persist()
      try {
        (0 until PqSub).toArray.map { m =>
          val sub = fitSet.select(array_to_vector(
            slice(col("embedding"), m * PqSubDim + 1, PqSubDim)).as("vec"))
          new KMeans().setK(PqCodes).setSeed(pqSeed(m)).setMaxIter(10)
            .setFeaturesCol("vec").setPredictionCol("cell")
            .fit(sub).clusterCenters.map(_.toArray)
        }
      } finally fitSet.unpersist()
    })

  private val pqFitCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Array[Double]]]]()

  /** ADC shortlist depth: the exact re-rank touches at most this many
    * candidates per query. The PQ-only top-10 measures recall 0.20-0.31
    * here (32-bit codes on near-isotropic unit vectors — quantization
    * error dominates), which is exactly why production PQ (FAISS
    * IVF-PQ + refine) uses ADC as a CANDIDATE GENERATOR: over-fetch by
    * 10x on codes, re-rank the short list exactly.
    */
  val PqShortlist = 100

  /** Corpus size the [[PqShortlist]] = 100 floor was calibrated at (the
    * sf0.1 embeddings corpus): shortlist/corpus = 5% scanned fraction.
    */
  val PqCalibN = 2000L

  /** Size-adaptive ADC shortlist: holds the SCANNED FRACTION
    * (shortlist/corpus) at the calibrated 5% as the corpus grows,
    * floored at the historical [[PqShortlist]] — identical at every
    * test SF (n <= [[PqCalibN]]), so all calibrated oracles are
    * unaffected. This is the recall analog of [[bitsFor]]: on
    * weakly-clustered embeddings recall tracks scanned fraction, so a
    * FIXED shortlist decays as the corpus grows (measured 0.70 at sf0.1
    * -> 0.31 at x10 under shortlist=100; 0.68 at shortlist=800 — the
    * SCALING.md recall ledger), while a fixed fraction holds the floor.
    * The cost is linear and explicit: the ADC rank pass already scores
    * every candidate, and the refine join gathers
    * shortlist x |queries| rows — growing the shortlist ∝ n keeps that
    * gather a vanishing slice of one corpus scan.
    */
  def shortlistFor(n: Long): Int =
    math.max(PqShortlist.toLong,
      (n * PqShortlist + PqCalibN - 1) / PqCalibN).toInt

  /** The shortlist the ORACLE generator must mirror: derived from the
    * cached corpus count when the query ran in this JVM, else the
    * historical constant — exact at every SF the gate runs (the
    * [[oracleStride]] discipline).
    */
  def oracleShortlist(dirOpt: Option[String]): Int =
    dirOpt.flatMap(cachedCorpusCount).map(shortlistFor)
      .getOrElse(PqShortlist)

  /** PQ ANN, shortlist + exact refine (oracle-checked via the
    * fitted-codebook-literal device): every vector is encoded to its
    * per-subspace argmin code IN THE PLAN (codegen'd squared-L2 against
    * the codebook literals — the annIvf assignment device per
    * subspace); queries rank candidates by the asymmetric distance
    * ADC(q, c) = ||q - rec(c)||² where rec(c) concatenates the code
    * centroids; the [[PqShortlist]] nearest-by-ADC then get an exact
    * cosine re-rank and the top-[[K]] are emitted. ADC is evaluated as
    * ONE flat 64-dim squared-L2 against the reconstruction — the same
    * value as the textbook per-subspace table lookup (the sub-distances
    * are disjoint coordinate ranges), spelled flat so both engines fold
    * the 64 terms in the identical order. Embeddings are unit-norm, so
    * ADC-L2 ordering is cosine ordering (L2² = 2 − 2·cos) and recall vs
    * the cosine brute-force is the honest quantization-loss measure
    * (PipelineSpec pins the measured floor).
    *
    * Scale shape: encoding is a shuffle-free scan; the query side is
    * small and broadcast; the ADC pass ranks (corpus x nQueries) pairs
    * of 4-byte codes, never vectors — that compressed scan is the whole
    * point of PQ (the full-precision column stays in cold storage); the
    * refine pass gathers shortlist vectors by broadcasting the
    * (nQueries x [[PqShortlist]])-row shortlist against the corpus, so
    * full vectors stream through exactly one scan and only shortlist
    * hits survive it. The fit is bounded-sample. Composes with
    * [[annIvf]]: probe cells first, ADC-scan codes within them.
    */
  def annPq(s: SparkSession, dir: String,
            shortlistOpt: Int = 0): DataFrame = {
    // 0 = size-adaptive (the default): [[shortlistFor]] holds the
    // scanned fraction, so the recall floor survives corpus growth; an
    // explicit positive value pins the historical behavior
    val shortlist = if (shortlistOpt > 0) shortlistOpt
      else shortlistFor(corpusCount(s, dir))
    val cbs = fitPqCodebooks(s, dir)
    val codeCols = (0 until PqSub).map { m =>
      val sub = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
      val dists = array(cbs(m).map(cv =>
        V.l2sq(sub, array(cv.map(lit): _*))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int").as(s"c$m")
    }
    val encoded = corpus(s, dir)
      .select(col("vec_id") +: codeCols: _*)
    val cbLits = (0 until PqSub).map(m =>
      array(cbs(m).map(cv => array(cv.map(lit): _*)): _*))
    val rec = concat((0 until PqSub).map(m =>
      element_at(cbLits(m), col(s"c$m") + 1)): _*)
    val q = table(s, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_r").asc, col("cand_id").asc)
    val short = encoded.select(col("vec_id").as("cand_id"), rec.as("rec"))
      .join(broadcast(q), col("q_id") =!= col("cand_id"))
      .withColumn("adc_r", round(V.l2sq(col("qe"), col("rec")), 6))
      .withColumn("rank_adc", row_number().over(wAdc))
      .filter(col("rank_adc") <= shortlist)
      .select(col("q_id"), col("qe"), col("cand_id"), col("adc_r"))
    // exact refine: gather shortlist vectors in one corpus scan (the
    // tiny shortlist broadcasts; only its hits survive the scan)
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("cand_id").asc)
    table(s, dir, "embeddings")
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      .join(broadcast(short), Seq("cand_id"))
      .withColumn("cos_r", round(V.cosine(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_r"),
        col("adc_r"))
  }

  /** IVF-PQ recall floor — measured 0.75 / 0.81 / 0.64 at
    * sf0.001/0.01/0.1 vs the cosine brute force (the intersection of
    * IVF's probe loss and PQ's quantization loss; deepen nProbe or the
    * shortlist to trade scan for recall, as in the component paths).
    * Deterministic (seeded fits), so the floor is an exact regression
    * guard despite the thin sf0.1 margin.
    */
  val IvfPqRecallMin = 0.6

  /** IVF-PQ (oracle-checked via BOTH fitted-literal devices): the
    * production composition the [[annPq]] doc promises — probe
    * [[IvfProbe]] cells with the coarse quantizer, ADC-scan the PQ
    * CODES of candidates inside probed cells only, then exact-refine
    * the [[PqShortlist]] survivors. This is FAISS's IVFADC shape
    * (Jégou et al., TPAMI 2011): at 100 TB the scan inside probed
    * cells touches 4-byte codes, not vectors, and only
    * nProbe/nCentroids of those — the two sublinear factors compose.
    *
    * Scale shape: ONE corpus scan computes cell assignment AND the 8
    * subspace codes (all codegen'd literal arithmetic); the probe set
    * is per-query bounded and broadcast; the ADC join touches
    * candidates in probed cells only; the refine gathers shortlist
    * vectors through one more corpus scan with the tiny shortlist
    * broadcast (the annPq device). Fits are bounded-sample, recorded
    * served to the composed DuckDB mirror via [[cachedCentroids]] /
    * [[cachedPqCodebooks]].
    */
  def annIvfPq(s: SparkSession, dir: String,
               shortlistOpt: Int = 0): DataFrame = {
    // size-adaptive shortlist, as in [[annPq]]
    val shortlist = if (shortlistOpt > 0) shortlistOpt
      else shortlistFor(corpusCount(s, dir))
    val centroids = fitCentroids(s, dir, IvfCentroids)
    val cbs = fitPqCodebooks(s, dir)
    // one scan: coarse cell + 8 PQ codes, all literal arithmetic
    val codeCols = (0 until PqSub).map { m =>
      val sub = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
      val dists = array(cbs(m).map(cv =>
        V.l2sq(sub, array(cv.map(lit): _*))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int").as(s"c$m")
    }
    val encoded = corpus(s, dir)
      .select(col("vec_id").as("cand_id") +:
        cellAssign(col("embedding"), centroids).as("cell") +: codeCols: _*)
    val cbLits = (0 until PqSub).map(m =>
      array(cbs(m).map(cv => array(cv.map(lit): _*)): _*))
    val rec = concat((0 until PqSub).map(m =>
      element_at(cbLits(m), col(s"c$m") + 1)): _*)
    // probe assignment in the plan — the annIvf device
    val centExpr = array(centroids.zipWithIndex.map { case (c, ci) =>
      struct(lit(ci).as("cell"), array(c.map(lit): _*).as("cv"))
    }: _*)
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("d").asc, col("cell").asc)
    val probeDf = table(s, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(centExpr).as("ct"))
      .select(col("q_id"), col("qe"), col("ct.cell").as("cell"),
        V.l2sq(col("qe"), col("ct.cv")).as("d"))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= IvfProbe)
      .select(col("q_id"), col("cell"), col("qe"))
    // ADC over candidates in probed cells only
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_r").asc, col("cand_id").asc)
    val short = encoded.select(col("cand_id"), col("cell"), rec.as("rec"))
      .join(broadcast(probeDf), Seq("cell"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("adc_r", round(V.l2sq(col("qe"), col("rec")), 6))
      .withColumn("rank_adc", row_number().over(wAdc))
      .filter(col("rank_adc") <= shortlist)
      .select(col("q_id"), col("qe"), col("cand_id"), col("adc_r"))
    // exact refine: one corpus scan, shortlist broadcast
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("cand_id").asc)
    table(s, dir, "embeddings")
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      .join(broadcast(short), Seq("cand_id"))
      .withColumn("cos_r", round(V.cosine(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_r"),
        col("adc_r"))
  }

  /** All XOR probe masks over nBits bits with popcount <= probeBits —
    * the classic multi-probe LSH expansion (Lv et al., VLDB'07): a true
    * neighbor differing from the query in up to probeBits signature bits
    * is still found, at the cost of sum_k C(nBits,k) probes instead of a
    * coarser (higher-recall, lower-precision) signature.
    */
  def probeMasks(nBits: Int, probeBits: Int): Seq[Long] =
    (0 until (1 << nBits)).filter(m => Integer.bitCount(m) <= probeBits)
      .map(_.toLong)

  /** Probe-mask budget for the SIZE-ADAPTIVE code path
    * ([[knnGraphBucketed]]): at the historical 6-bit code the full
    * 2-bit probe set is exactly 1 + 6 + C(6,2) = 22 masks, so the cap
    * is inert at every calibrated operating point. At wider codes the
    * combinatorial mask count (1 + b + C(b,2)) would re-introduce a
    * log²n factor into the join — capping holds probes-per-query, and
    * with [[TargetCellRows]]-wide cells the whole candidate volume,
    * CONSTANT per vector: the bucketed join stays linear in the
    * corpus. The price is scanned fraction (recall on weakly-clustered
    * data shrinks with it); nTables is the explicit buy-it-back knob.
    */
  val ProbeBudget = 22

  /** [[probeMasks]] ordered by Hamming weight (identity, 1-bit flips,
    * then 2-bit flips), truncated at [[ProbeBudget]] — generated
    * directly, never by enumerating 2^nBits (a 100 TB corpus implies
    * ~30-bit codes).
    */
  def budgetedProbeMasks(nBits: Int, probeBits: Int): Seq[Long] = {
    val buf = scala.collection.mutable.ArrayBuffer(0L)
    if (probeBits >= 1)
      for (i <- 0 until nBits if buf.size < ProbeBudget)
        buf += (1L << i)
    if (probeBits >= 2)
      for (i <- 0 until nBits; j <- (i + 1) until nBits
           if buf.size < ProbeBudget)
        buf += (1L << i) | (1L << j)
    buf.toSeq
  }

  /** The calibrated LSH operating point shared by [[annLsh]] and
    * [[knnGraphBucketed]] AND their generated DuckDB mirrors — single
    * source of truth, so retuning a knob cannot desync plan from
    * oracle (see the measured-recall table at [[LshRecallMin]]).
    */
  val LshBits = 6
  val LshTables = 3
  val LshProbeBits = 2

  /** Target LSH cell width for the size-adaptive code
    * ([[bitsFor]]) — 2000/2^6 ≈ 31 rows, the sf0.1 operating point the
    * recall floors were calibrated at.
    */
  val TargetCellRows = 32L

  /** Size-adaptive LSH code width: the smallest nBits keeping the
    * expected cell at ≤ [[TargetCellRows]] rows, floored at the
    * historical [[LshBits]] (identical at every test SF, so all
    * calibrated oracles are unaffected). This is the knob that keeps
    * the bucketed self-join LINEAR: Σ bucket² per table =
    * n²/2^nBits, so a FIXED width grows quadratically with the corpus
    * — the ×10 scale run measured 45× before this fix, ~linear after.
    * The recall-vs-cost tradeoff moves to nTables/probeBits (more
    * tables or deeper probes buy back the recall a narrower cell
    * forgoes), which stay explicit parameters.
    */
  def bitsFor(n: Long): Int = {
    val cells = math.max(1L, (n + TargetCellRows - 1) / TargetCellRows)
    math.max(LshBits, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, cells - 1)))
  }

  /** Degenerate-cell cap for [[knnGraphBucketed]]'s corpus side: a
    * (table, bucket) cell is dropped when it exceeds
    * max([[CellCapFloor]], corpus * [[CellCapFactor]] / 2^nBits) rows.
    * Shared with the oracle generator — the in-plan filter and the
    * DuckDB mirror interpolate the SAME constants.
    */
  val CellCapFloor = 200L
  val CellCapFactor = 8L

  /** LSH-bucketed ANN (oracle-checked — planes/masks are literals in the
    * DuckDB mirror): nTables independent hyperplane signatures, each
    * partitioning the corpus into 2^nBits buckets, with probeBits-deep
    * multi-probe per table. A candidate survives if ANY table buckets it
    * within probeBits flips of the query — the L-tables OR-amplification
    * that lifts per-neighbor hit probability from p to 1-(1-p)^L.
    *
    * Scale shape: the corpus side materializes nTables rows per vector
    * (the standard L-times index-size cost of multi-table LSH); the
    * query side is small and broadcast after its tables x masks
    * explode. Per-pair cosine is computed map-side and deduped across
    * tables by a (q_id, cand_id) partial-agg max — one shuffle of
    * candidate pairs, never of the corpus. Recall/scan tradeoff is
    * (nBits, nTables, probeBits); defaults are calibrated on the
    * synthetic embeddings to clear [[LshRecallMin]] at every SF (see
    * the measured table at [[LshRecallMin]]).
    */
  def annLsh(s: SparkSession, dir: String, nBits: Int = LshBits,
             nTables: Int = LshTables,
             probeBits: Int = LshProbeBits): DataFrame = {
    val sigs = (0 until nTables).map(t =>
      V.hyperplaneBucket(col("embedding"), planes(nBits, 64, lshSeed(t)))
        .as(s"b$t"))
    val e = table(s, dir, "embeddings")
      .select(col("vec_id") +: col("embedding") +: sigs: _*)
    val cTabs = array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"), col(s"b$t").as("bucket"))): _*)
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        explode(cTabs).as("tb"))
      .select(col("cand_id"), col("ce"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
    val masks = probeMasks(nBits, probeBits)
    val qProbes = array((for { t <- 0 until nTables; m <- masks } yield
      struct(lit(t).as("tbl"),
        col(s"b$t").bitwiseXOR(lit(m)).as("bucket"))): _*)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(qProbes).as("tb"))
      .select(col("q_id"), col("qe"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("cand_id").asc)
    c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("cos", round(V.cosine(col("qe"), col("ce")), 6))
      // dedup across tables/probes: same pair -> same cos, so max() is
      // exact and the map-side partial aggregate shrinks the shuffle
      .groupBy(col("q_id"), col("cand_id"))
      .agg(max(col("cos")).as("cos_r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_r"))
  }

  /** Seed for LSH table t — table 0 keeps the historical seed 42 (shared
    * with Dedup.dedupEmbeddingLsh's planes), further tables are offset.
    */
  def lshSeed(t: Int): Long = 42L + 1000L * t

  /** Recall@K floors each ANN path must clear against the exact
    * brute-force top-K ([[annRecall]] emits the verdicts as a
    * hash-checked query; PipelineSpec asserts the numeric values).
    *
    * Calibrated against MEASURED recall on the synthetic embeddings
    * (each path's pairs against [[annBruteforce]]'s exact top-K, at
    * sf0.001/0.01/0.1):
    *   lsh nBits=6 nTables=3 probeBits=2: 0.88 / 0.91 / 0.96
    *   ivf nCentroids=16 nProbe=8:        0.85 / 0.89 / 0.88
    * Scan-fraction honesty: these vectors are weakly-clustered/
    * near-isotropic, where ANY sublinear method's recall is bounded
    * near its scanned fraction — the defaults therefore spend candidate
    * volume to buy recall (LSH: 3 tables x 22 probes covers ~70% of the
    * corpus per query; IVF: 8/16 cells = ~50%). On real text embeddings
    * (strongly clustered) the same recall costs a far smaller scanned
    * fraction, and (nBits, nTables, probeBits) / (nCentroids, nProbe)
    * stay the per-deployment recall-vs-cost knobs. Both paths are
    * deterministic (seeded planes, seeded KMeans), so these floors are
    * exact regression guards, not flaky estimates.
    */
  val LshRecallMin = 0.6
  val IvfRecallMin = 0.8

  /** PQ shortlist+refine floor — measured 0.86 / 0.87 / 0.70 at
    * sf0.001/0.01/0.1 ([[PqShortlist]] = 100 of a corpus growing
    * 500→2000; deepen the shortlist to hold recall as the corpus
    * grows — it is the PQ recall knob, like nProbe for IVF).
    */
  val PqRecallMin = 0.65

  /** Per-method recall@K of EVERY approximate path vs its exact
    * baseline — the number an ANN evaluation actually reports, computed
    * in-plan (the exact and approximate top-K lists join on their keys;
    * no driver-side set math). lsh/ivf/pq measure against
    * [[annBruteforce]] on the query set; knn_lsh measures
    * [[knnGraphBucketed]] against the exact [[knnGraph]] on the stride
    * subset. Every input is seed-fixed (LSH planes and KMeans are
    * deterministic), so recall is a stable function of the data and the
    * emitted `recall_ok` verdicts are hash-checkable: the oracle
    * asserts them as literals, PipelineSpec bounds the numeric values
    * themselves.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val bf = annBruteforce(s, dir).select(col("q_id"), col("cand_id"))
    val hits = annLsh(s, dir)
      .select(lit("lsh").as("method"), col("q_id"), col("cand_id"))
      .unionByName(annIvf(s, dir)
        .select(lit("ivf").as("method"), col("q_id"), col("cand_id")))
      .unionByName(annPq(s, dir)
        .select(lit("pq").as("method"), col("q_id"), col("cand_id")))
    val nBf = bf.agg(count(lit(1)).as("n_exact"))
    val perQuery = hits
      .join(bf.withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
      .groupBy(col("method"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .crossJoin(broadcast(nBf))
      .select(col("method"),
        (col("n_hit").cast("double") / col("n_exact").cast("double") >=
          when(col("method") === "lsh", LshRecallMin)
            .when(col("method") === "ivf", IvfRecallMin)
            .otherwise(PqRecallMin)).as("recall_ok"))
    val gExact = knnGraph(s, dir).select(col("src"), col("dst"))
    val gApprox = knnGraphBucketed(s, dir)
      .filter(col("src") % strideFor(corpusCount(s, dir)) === 0)
      .select(col("src"), col("dst"))
    val gN = gExact.agg(count(lit(1)).as("n_exact"))
    val graphRow = gApprox
      .join(gExact.withColumn("hit", lit(1)), Seq("src", "dst"), "left")
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .crossJoin(broadcast(gN))
      .select(lit("knn_lsh").as("method"),
        (col("n_hit").cast("double") / col("n_exact").cast("double") >=
          KnnGraphRecallMin).as("recall_ok"))
    perQuery.unionByName(graphRow)
  }

  /** Probe-count autotune ladder and recall target: the tuner sweeps
    * the ladder and picks the SMALLEST nProbe whose measured recall@K
    * meets the target — nProbe is IVF's one latency/recall knob
    * (expected candidates scanned ~ nProbe/nCentroids of the corpus),
    * so the smallest sufficient value is the cheapest valid operating
    * point. The ladder is geometric: recall is concave in nProbe, so
    * doubling resolves the curve where it bends.
    */
  val ProbeLadder = Seq(1, 2, 4, 8)
  val AutoProbeTarget = 0.8

  /** IVF probe-count autotuning from MEASURED recall (oracle-checked):
    * one ladder row per candidate nProbe with its recall@[[K]] against
    * the exact brute-force baseline, whether it meets
    * [[AutoProbeTarget]], and whether it is the chosen (smallest
    * sufficient) operating point. This is the calibration an ANN
    * deployment runs whenever the corpus or quantizer changes, as a
    * query instead of a notebook.
    *
    * Cost shape: ONE assignment scan and ONE probe-join at the ladder's
    * maximum — a candidate found at probe rank pr belongs to every rung
    * p >= pr, so per-rung top-K lists are re-ranks of the same joined
    * frame (rung p filters pr <= p), not repeated scans. The exact
    * baseline is the [[annBruteforce]] query-set pass. Everything stays
    * in-plan; recall is a ratio of two counted BIGINTs (one IEEE
    * division — bit-identical cross-engine, no rounding device).
    */
  def annAutoProbe(s: SparkSession, dir: String): DataFrame = {
    val centroids = fitCentroids(s, dir, IvfCentroids)
    val maxProbe = ProbeLadder.max
    val assigned = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        cellAssign(col("embedding"), centroids).as("cell"))
    val centExpr = array(centroids.zipWithIndex.map { case (c, ci) =>
      struct(lit(ci).as("cell"), array(c.map(lit): _*).as("cv"))
    }: _*)
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("d").asc, col("cell").asc)
    val probeDf = table(s, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(centExpr).as("ct"))
      .select(col("q_id"), col("qe"), col("ct.cell").as("cell"),
        V.l2sq(col("qe"), col("ct.cv")).as("d"))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= maxProbe)
      .select(col("q_id"), col("cell"), col("pr"), col("qe"))
    val cand = assigned
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("cell"))
      .join(broadcast(probeDf), Seq("cell"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("cos_r", round(V.cosine(col("qe"), col("ce")), 6))
      .select(col("q_id"), col("cand_id"), col("cos_r"), col("pr"))
    // one pass over the candidate frame for ALL rungs: a 4-literal
    // ladder explode + pr <= nprobe filter (the oracle's ladder join),
    // then one window partitioned by (nprobe, q_id). A per-rung
    // union-of-filters formulation would re-execute the assignment scan
    // and probe-join once per rung — Spark does no common-subplan
    // elimination across union branches.
    val wr = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("cos_r").desc, col("cand_id").asc)
    val perRung = cand
      .withColumn("nprobe",
        explode(array(ProbeLadder.map(p => lit(p)): _*)))
      .filter(col("pr") <= col("nprobe"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= K)
      .select(col("nprobe"), col("q_id"), col("cand_id"))
    val bf = annBruteforce(s, dir).select(col("q_id"), col("cand_id"))
    val nBf = bf.agg(count(lit(1)).as("n_exact"))
    // chosen: smallest rung meeting the target — a 4-row (ladder-sized)
    // ordered window, never data-sized
    val wLadder = Window.orderBy(col("nprobe"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perRung
      .join(bf.withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
      .groupBy(col("nprobe"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .crossJoin(broadcast(nBf))
      .select(col("nprobe"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .withColumn("meets", col("recall") >= AutoProbeTarget)
      .withColumn("chosen", col("meets") &&
        coalesce(sum(when(col("meets"), 1L).otherwise(0L)).over(wLadder),
          lit(0L)) === 0L)
  }

  /** Johnson-Lindenstrauss target dimension (perfect square, so the
    * 1/sqrt(k) scale is the exact double 0.25) and projection seed
    * (disjoint from the LSH seed family at [[lshSeed]]).
    */
  val JlDim = 16
  val JlSeed = 7777L

  /** Johnson-Lindenstrauss random projection 64 -> [[JlDim]] dims
    * (oracle-checked): y_i = dot(x, g_i) / sqrt(k) for k seeded Gaussian
    * rows — the distance-preserving dimensionality reduction run before
    * ANN indexing / clustering when the raw embedding width makes the
    * index too fat (JL lemma: pairwise distances survive within
    * 1 +- eps with k = O(ln n / eps^2); the distortion actually attained
    * is measured in PipelineSpec). Per-row codegen'd arithmetic against
    * a k x d literal matrix — zero shuffles, scan speed at any corpus
    * size, and the same fixed-seed-literal discipline as the LSH planes
    * makes the DuckDB mirror exact.
    *
    * The projected vector is emitted as a canonical comma string of
    * micro-unit (1e-6) integers: floor(y_i * 1e6 + 0.5) — the spelled
    * half-up device from quantize_embeddings. Integer rendering is
    * byte-identical across engines, where double-to-string is not
    * (Spark prints 1.0E-6, DuckDB 1e-06), and the driver's oracle
    * harness hashes scalars, not arrays.
    */
  def projectEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val g = planes(JlDim, 64, JlSeed)
    val scale = 1.0 / math.sqrt(JlDim.toDouble)
    val comps = g.map { row =>
      floor(V.dot(col("embedding"), array(row.map(lit): _*)) * scale
        * lit(1e6) + lit(0.5)).cast("long").cast("string")
    }
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        concat_ws(",", comps: _*).as("proj_micro"))
  }

  /** Generated oracle for [[projectEmbeddings]] — the same Gaussian rows
    * as SQL list literals; list_dot_product evaluates the identical
    * sequential double fold as the codegen'd vec_dot, and the identical
    * micro-unit half-up floor renders each component as the same
    * integer string.
    */
  def projectEmbeddingsOracleSql: String = {
    val g = planes(JlDim, 64, JlSeed)
    val scale = 1.0 / math.sqrt(JlDim.toDouble)
    val comps = g.map { row =>
      val lst = row.mkString("[", ", ", "]")
      s"CAST(CAST(floor(list_dot_product(CAST(embedding AS DOUBLE[]), $lst)" +
        s" * $scale * 1e6 + 0.5) AS BIGINT) AS VARCHAR)"
    }.mkString(",\n          ")
    s"""
      SELECT vec_id, label,
        concat_ws(',', $comps) AS proj_micro
      FROM embeddings"""
  }

  /** Symmetric int8 quantization of the embedding column (oracle-checked)
    * — the standard 4x storage/bandwidth cut before an ANN index is
    * built or embeddings ship to a serving tier. Per-vector max-abs
    * scaling: q_i = round_half_up(x_i * 127 / max|x|); the half-up
    * rounding is spelled floor(x + 0.5) so both engines round identical
    * doubles identically (their native round() functions disagree on
    * negative halves). Per-row, shuffle-free — runs at scan speed; the
    * quantized vector is emitted as a canonical comma string (the
    * driver's oracle harness hashes scalars, not arrays).
    */
  def quantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .withColumn("qmax",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("scale",
        when(col("qmax") === 0.0, lit(0.0)).otherwise(lit(127.0) / col("qmax")))
      .withColumn("q", transform(col("embedding"),
        x => floor(x.cast("double") * col("scale") + 0.5).cast("int")))
      .withColumn("max_err", when(col("scale") === 0.0, lit(0.0)).otherwise(
        array_max(zip_with(col("embedding"), col("q"),
          (x, q) => abs(x.cast("double") - q.cast("double") / col("scale"))))))
      .select(col("vec_id"), col("label"),
        round(col("scale"), 6).as("scale"),
        array_join(transform(col("q"), q => q.cast("string")), ",").as("q"),
        round(col("max_err"), 5).as("max_err"))
  }

  /** Per-label embedding centroids (oracle-checked) — the vector
    * aggregation behind SemDeDup-style semantic clustering, IVF coarse
    * quantizer refresh, and per-source drift monitoring. One posexplode
    * to (label, dim, v) then a (label, dim)-keyed aggregate: at 100 TB
    * this is a single shuffle whose key cardinality is
    * |labels| * dims — always small — with full map-side partial
    * aggregation; no vector ever concatenates driver-side.
    *
    * Cross-engine device: component sums go through DECIMAL(25,7)
    * (float32 carries <= 7 significant decimal digits, so the cast is
    * exact-enough to agree between engines and decimal addition is
    * order-independent — the Relational.dsum money trick applied to
    * vectors). The emitted value is the SUM (exactly representable:
    * scale-7 decimals of unit-range floats cast to double without
    * rounding), not a rounded mean — dividing first and rounding after
    * lands on round-half boundaries that double rounding resolves
    * differently per engine; sum+count is boundary-free AND the
    * partial-aggregate form a consumer merges anyway (mean = sum/n).
    */
  def embeddingCentroids(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        // float -> STRING -> decimal: both engines print the shortest
        // round-trip decimal for a float32 and parse it identically, so
        // the scale-7 value is bit-agreed; a direct float->decimal cast
        // goes through each engine's own double expansion and diverges
        // in the 7th place
        sum(col("v").cast("string").cast(DecimalType(25, 7)))
          .cast("double").as("sum_v"))

  /** kNN-graph fan-out and query stride. */
  val KnnK = 5
  val KnnStride = 20

  /** Fixed size of the exact-graph recall audit: [[strideFor]] widens
    * the stride as the corpus grows so the audited query count stays
    * ~this (the dedup_recall fixed-slice device). The exact baseline
    * then costs queries × corpus = O(n) — without this, a constant
    * stride makes the audit (n/stride) × n = quadratic, which the ×10
    * scale run measured as a 30× wall-time blowup before the fix.
    */
  val KnnAuditQueries = 100L

  /** Audit stride for a corpus of n vectors: the historical constant up
    * to n = [[KnnStride]]·[[KnnAuditQueries]] (so every test SF — and
    * every existing oracle — is bit-identical), then grows with n to
    * cap the audit at ~[[KnnAuditQueries]] queries.
    */
  def strideFor(n: Long): Long =
    math.max(KnnStride.toLong, (n + KnnAuditQueries - 1) / KnnAuditQueries)

  /** Cached corpus row count per table dir — one column-pruned parquet
    * count (near metadata speed), memoized like the centroid fits, so
    * the size-adaptive knobs ([[strideFor]], [[bitsFor]]) are a
    * lookup, not a job, after first use. Oracle generators read
    * [[cachedCorpusCount]] (keyed by the dump dir, fail-closed to the
    * historical constants when absent — which are exact at every SF
    * the gate runs).
    */
  def corpusCount(s: SparkSession, dir: String): Long =
    countCache.computeIfAbsent(dir, _ =>
      java.lang.Long.valueOf(table(s, dir, "embeddings").count()))
  def cachedCorpusCount(dir: String): Option[Long] =
    Option(countCache.get(dir)).map(_.longValue())
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** k-nearest-neighbor graph over the embedding corpus
    * (oracle-checked): exact cosine top-[[KnnK]] per query node — the
    * adjacency every graph-based semantic method consumes (kNN-LM
    * retrieval, graph-clustering curation, NN-descent seeding,
    * label-spreading QA). Query nodes are a deterministic 1-in-
    * [[KnnStride]] stride of the corpus; edges run query -> corpus, so
    * the result is the directed kNN adjacency restricted to the stride.
    *
    * Execution is the [[graft.plans.GroupedTopK]] custom physical
    * operator composed with the codegen'd `vec_cosine` expression: the
    * pair stream is heap-reduced to k survivors per query INSIDE each
    * scan partition, and only k * |queries| * partitions rows reach the
    * exchange — vs. the window formulation, which shuffles and sorts
    * the full |queries| x |corpus| pair stream. The broadcast side is
    * the query subset (corpus/[[KnnStride]] rows — bounded and small);
    * the corpus streams once, never shuffling pre-reduction. Scaling
    * the stride to "every node" moves the broadcast to an LSH/IVF
    * bucket join (dedupEmbeddingLsh / annIvf show both), with the same
    * top-k reduction downstream.
    *
    * Rank key is round(cos, 6) + dst id, the [[annBruteforce]]
    * reproducibility device.
    */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
    // size-adaptive stride: ~KnnAuditQueries query nodes at any corpus
    // size, so the exact pass stays O(n) (see strideFor)
    val stride = strideFor(corpusCount(s, dir))
    val q = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("src"), col("embedding").as("qe"))
    val c = corpus(s, dir)
      .select(col("vec_id").as("dst"), col("embedding").as("ce"))
    val pairs = c.join(broadcast(q), col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(V.cosine(col("qe"), col("ce")), 6).as("cos_r"))
    val top = graft.plans.TopKPlans.groupedTopK(pairs,
      Seq(col("src")), Seq(col("cos_r").desc, col("dst").asc), KnnK)
    // rank numbering over the <= k survivors per key (top-k-first, then
    // window — the Ranking.bm25 device; the window never sees the corpus)
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_r").desc, col("dst").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("src"), col("rank"), col("dst"), col("cos_r"))
  }

  /** Recall@[[KnnK]] floor for [[knnGraphBucketed]] vs the exact
    * [[knnGraph]] on the stride subset — measured 0.904 / 0.912 / 0.938
    * at sf0.001/0.01/0.1 with the (6 bits, 3 tables, 2 probe-bit)
    * default; deterministic (seeded planes), so the floor is a
    * regression guard, set with margin under the weakest measurement.
    */
  val KnnGraphRecallMin = 0.85

  /** nTables candidates the autotuner sweeps, smallest-first. The cap
    * (24) bounds the index-size multiplier the tuner may ever choose:
    * on a near-isotropic corpus a fixed recall needs a ~constant
    * scanned fraction, so the floor's price grows with the corpus and
    * the engine will not silently spend it. If even the cap misses the
    * floor, the tuner returns the cap, the recall audit ([[annRecall]]'s
    * knn_lsh verdict) reports the shortfall, and the serving graph
    * buys recall back with the NN-descent refinement round
    * ([[refineFor]]) rather than a bigger index.
    */
  val AutoTablesLadder = Seq(3, 6, 9, 12, 15, 18, 24)

  /** Size-adaptive nTables for [[knnGraphBucketed]] — the recall analog
    * of [[bitsFor]], chosen by MEASUREMENT, not formula: above the
    * calibrated regime (where [[bitsFor]] starts widening the code and
    * per-table scanned fraction shrinks), recall under a fixed table
    * count decays with the corpus (measured 0.94 at sf0.1 -> 0.36 at
    * x10 with 3 tables — the SCALING.md recall ledger). How many tables
    * buy it back depends on how CLUSTERED the data is, which no formula
    * knows — so the tuner measures recall@[[KnnK]] per ladder rung
    * against the exact stride-audit graph ([[knnGraph]], ~
    * [[KnnAuditQueries]] queries — O(n)) and picks the SMALLEST rung
    * meeting [[KnnGraphRecallMin]], the annAutoProbe discipline; when
    * no rung meets it, the ladder's cap (see [[AutoTablesLadder]]).
    *
    * Cost shape: ONE candidate join at the ladder's maximum — a pair
    * found first by table t belongs to every rung nt > t, so per-rung
    * top-K lists are re-ranks of one joined frame keyed by min(tbl),
    * never repeated joins. The query side is the bounded stride audit
    * (broadcast); the corpus side explodes ladder-max rows per vector
    * once, during tuning only. The result is memoized per dir (the
    * fitCentroids discipline), so the graph build itself pays the
    * tuning pass once per corpus.
    *
    * At every gate SF the adaptive code width is inactive
    * ([[bitsFor]] == [[LshBits]] — the calibrated operating point whose
    * floors are measured to hold), so this returns [[LshTables]]
    * without running a job and every existing oracle is bit-identical.
    */
  def tablesFor(s: SparkSession, dir: String): Int = {
    tablesCache.computeIfAbsent(dir, { _ =>
      val n = corpusCount(s, dir)
      if (bitsFor(n) == LshBits) {
        // calibrated regime: floors measured to hold — no refinement
        refineCache.put(dir, java.lang.Boolean.FALSE)
        Integer.valueOf(LshTables)
      } else Integer.valueOf(autotuneTables(s, dir, n))
    }).intValue()
  }

  /** Whether the serving graph needs the NN-descent refinement round:
    * true iff the autotuner measured that even the ladder cap misses
    * [[KnnGraphRecallMin]] on this corpus — the r17 cap-and-report
    * shortfall, now bought back by a different ALGORITHM (candidate
    * expansion) instead of a bigger index-size knob, which the ladder
    * cap exists to bound. Never true at a gate SF (the adaptive code
    * width is inert there, so the tuner never runs and the oracles
    * mirror the plain bucket join).
    */
  def refineFor(s: SparkSession, dir: String): Boolean = {
    tablesFor(s, dir) // ensures the autotune (and its verdict) ran
    Option(refineCache.get(dir)).exists(_.booleanValue())
  }
  private val refineCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The tuned table count for dir, if [[tablesFor]] ran in this JVM —
    * the oracle generators' lookup ([[cachedCentroids]] discipline).
    */
  def cachedTables(dir: String): Option[Int] =
    Option(tablesCache.get(dir)).map(_.intValue())
  private val tablesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def oracleTables(dirOpt: Option[String]): Int =
    dirOpt.flatMap(cachedTables).getOrElse(LshTables)

  /** The tuning sweep: the single candidate join at the ladder's max
    * plus per-rung re-ranks (see [[tablesFor]]'s cost shape note);
    * returns the smallest rung meeting the floor, else the max, and
    * records whether the floor was missed for [[refineFor]].
    */
  private def autotuneTables(s: SparkSession, dir: String, n: Long): Int = {
    val nBits = bitsFor(n)
    val tMax = AutoTablesLadder.max
    val stride = strideFor(n)
    val exact = knnGraph(s, dir).select(col("src"), col("dst"))
    val sigs = (0 until tMax).map(t =>
      V.hyperplaneBucket(col("embedding"), planes(nBits, 64, lshSeed(t)))
        .as(s"b$t"))
    val e = table(s, dir, "embeddings")
      .select(col("vec_id") +: col("embedding") +: sigs: _*)
    val cTabs = array((0 until tMax).map(t =>
      struct(lit(t).as("tbl"), col(s"b$t").as("bucket"))): _*)
    // the degenerate-cell cap the real operator applies — measured
    // recall must be the recall of the ACTUAL serving shape (n is a
    // driver value here, so the threshold is a literal)
    val cellW = Window.partitionBy(col("tbl"), col("bucket"))
    // IDS-ONLY through the explode, the cap window, and the candidate
    // join: the ladder-max frame is corpus × 24 tables (× masks on the
    // probe side), and with the 64-dim embeddings riding it the ×100
    // corpus overran the sandbox's ~65 GB scratch in shuffle spill —
    // measured, twice. Candidate pairs are bounded by queries × tables
    // × masks × cell width, so embeddings are fetched for exactly that
    // verify slice AFTERWARD (qe on a broadcast of the stride subset,
    // ce on one corpus-keyed join), shrinking the in-flight bytes by
    // the embedding width (~20×) at identical results: cosines across
    // tables are equal, so per-pair min(tbl) + one cos after the fetch
    // equals the old per-row cos + max-over-tables.
    val c = e.select(col("vec_id").as("dst"), explode(cTabs).as("tb"))
      .select(col("dst"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
      .withColumn("_bsz", count(lit(1)).over(cellW))
      .filter(col("_bsz") <= lit(math.max(CellCapFloor,
        n * CellCapFactor / (1L << nBits))))
      .drop("_bsz")
    val masks = budgetedProbeMasks(nBits, LshProbeBits)
    val qProbes = array((for { t <- 0 until tMax; m <- masks } yield
      struct(lit(t).as("tbl"),
        col(s"b$t").bitwiseXOR(lit(m)).as("bucket"))): _*)
    val q = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("src"), explode(qProbes).as("tb"))
      .select(col("src"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
    // one bucket join at ladder max; min(tbl) per pair encodes EVERY
    // rung's candidate set (rung nt holds pairs with first_tbl < nt)
    val candIds = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(min(col("tbl")).as("first_tbl"))
    val qe = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("src"), col("embedding").as("qe"))
    val ce = table(s, dir, "embeddings")
      .select(col("vec_id").as("dst"), col("embedding").as("ce"))
    val pairs = candIds.join(ce, Seq("dst")).join(broadcast(qe), Seq("src"))
      .withColumn("cos_r", round(V.cosine(col("qe"), col("ce")), 6))
      .select(col("src"), col("dst"), col("first_tbl"), col("cos_r"))
    val wr = Window.partitionBy(col("nt"), col("src"))
      .orderBy(col("cos_r").desc, col("dst").asc)
    val perRung = pairs
      .withColumn("nt", explode(array(AutoTablesLadder.map(lit): _*)))
      .filter(col("first_tbl") < col("nt"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= KnnK)
      .select(col("nt"), col("src"), col("dst"))
    val nExact = exact.count().toDouble
    val recalls = perRung
      .join(exact.withColumn("hit", lit(1)), Seq("src", "dst"), "left")
      .groupBy(col("nt"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1).toDouble / nExact)).toMap
    val chosen = AutoTablesLadder
      .find(t => recalls.getOrElse(t, 0.0) >= KnnGraphRecallMin)
      .getOrElse(tMax)
    val recall = recalls.getOrElse(chosen, 0.0)
    // the cap-shortfall verdict drives the serving graph's refinement
    // round (refineFor): measured, cached with the table choice
    refineCache.put(dir, java.lang.Boolean.valueOf(
      recall < KnnGraphRecallMin))
    log.info(s"ann autotune($dir): ladder " +
      AutoTablesLadder.mkString("[", ",", "]") +
      f" -> nTables=$chosen (recall@$KnnK $recall%.3f, floor " +
      s"$KnnGraphRecallMin${if (recall < KnnGraphRecallMin)
        " MISSED — refinement round enabled" else ""})")
    chosen
  }

  /** Full-corpus kNN graph on the LSH bucket join (oracle-checked) —
    * the scale path [[knnGraph]]'s doc promises, demonstrated: EVERY
    * node is a query (no stride, no broadcast of a query subset), and
    * the candidate generator is the [[annLsh]] multi-table multi-probe
    * bucket join instead of the all-pairs product. Pairs only form
    * inside matching (table, bucket) cells, are deduped across tables
    * by the max-over-identical-cosines partial aggregate, and the same
    * [[graft.plans.GroupedTopK]] heap reduction cuts each node's
    * candidates to [[KnnK]] survivors before the final rank.
    *
    * Scale shape: the corpus explodes nTables rows per vector and the
    * query role explodes nTables x |masks| — both linear in the corpus
    * — then ONE bucket-keyed shuffle join whose per-cell width is
    * corpus/2^nBits; nothing broadcasts a corpus-sized side and the
    * full pair product never materializes. That is the 100 TB contract:
    * cost tracks sum of bucket-size² per table, tunable by nBits, not
    * corpus². Recall vs the exact graph is gated in PipelineSpec on the
    * stride subset ([[KnnGraphRecallMin]]).
    */
  /** `srcStride > 0` restricts the QUERY (src) side to `vec_id %
    * srcStride == 0` — the recall-audit slice. Per-source independence
    * makes the restriction exact: a source's top-K depends only on its
    * own probe cells and the (unchanged) capped corpus side, so the
    * audited sources' rows are identical to the full graph's
    * (PipelineSpec pins the equality). This is what makes the ×100
    * recall audit disk-feasible — the full serving graph at the tuned
    * table count shuffles corpus × tables × masks rows WITH embeddings
    * (measured past the sandbox's scratch at ×100, nt=24), while the
    * audit needs only ~KnnAuditQueries sources of it.
    */
  def knnGraphBucketed(s: SparkSession, dir: String, nBitsOpt: Int = 0,
                       nTablesOpt: Int = 0,
                       probeBits: Int = LshProbeBits,
                       srcStride: Long = 0): DataFrame = {
    // NN-descent refinement engages ONLY when the autotuner measured
    // that even the ladder cap misses the recall floor (refineFor —
    // never at a gate SF, where the adaptive knobs are inert and the
    // oracle mirrors the plain bucket join): the base graph runs at
    // the wider [[KnnRefineFan]] fan-out and one neighbors-of-
    // neighbors round re-ranks the expanded candidate set down to
    // [[KnnK]]. Explicit nTablesOpt pins the historical single-pass
    // behavior (the tuner's own per-rung measurements must stay
    // un-refined).
    if (nTablesOpt == 0 && refineFor(s, dir)) {
      val base = knnGraphBucketedBase(s, dir, nBitsOpt, 0, probeBits,
        srcStride, null, KnnRefineFan)
      knnRefineRound(s, dir, base, nBitsOpt, probeBits, srcStride)
    } else
      knnGraphBucketedBase(s, dir, nBitsOpt, nTablesOpt, probeBits,
        srcStride, null, KnnK)
  }

  /** Fan-out of the refinement base graph: neighbor lists kept per
    * node for the neighbors-of-neighbors expansion. Wider than
    * [[KnnK]] because rank-6..10 bucket candidates are exactly where
    * missed true top-5 neighbors hide (the NN-descent premise: a
    * near-neighbor's near-neighbors are candidates the hash tables
    * missed).
    */
  val KnnRefineFan = 10

  /** One NN-descent round over `base` (src → top-[[KnnRefineFan]]
    * bucket-join neighbors): expand each source's candidates with its
    * neighbors' neighbor lists, score the expanded set exactly, keep
    * top-[[KnnK]]. Candidate volume is |src| × fan² — linear in the
    * source count with a constant factor, never corpus² — and the
    * expansion reuses the SAME bucketed generator for the neighbor
    * lists, so no new all-pairs risk anywhere. On the audit slice
    * (srcStride > 0) the neighbor lists come from a second bucketed
    * run restricted to the candidate ids (per-source independence
    * makes the restriction exact — the srcStride argument, applied to
    * an id list); on the full graph `base` already holds every node's
    * list. Output columns/rank key identical to the single-pass graph.
    */
  private[graft] def knnRefineRound(s: SparkSession, dir: String,
      base0: DataFrame, nBitsOpt: Int, probeBits: Int,
      srcStride: Long, rounds: Int = KnnRefineRounds): DataFrame = {
    // the base graph is consumed by each round's expansion, the
    // candidate-id collect (audit path), and the union — pin it once
    // (small: |src| × fan rows of ids)
    val base = base0.select(col("src"), col("dst")).localCheckpoint()
    val e = table(s, dir, "embeddings")
    val qe = e.select(col("vec_id").as("src"), col("embedding").as("qe"))
    val ce = e.select(col("vec_id").as("dst"), col("embedding").as("ce"))
    def topOf(pairs: DataFrame, k: Int): DataFrame = {
      val scored = pairs.join(ce, Seq("dst")).join(qe, Seq("src"))
        .withColumn("cos_r", round(V.cosine(col("qe"), col("ce")), 6))
        .select(col("src"), col("dst"), col("cos_r"))
      graft.plans.TopKPlans.groupedTopK(scored,
        Seq(col("src")), Seq(col("cos_r").desc, col("dst").asc), k)
    }
    // Iterated descent: each round expands the CURRENT refined
    // top-fan lists of the sources through the UNREFINED bucketed
    // lists of the mids, re-scores exactly, and keeps top-fan
    // (top-K on the final round). Mid lists deliberately stay
    // unrefined — on the audit slice only the sources' lists exist
    // refined, so refining mids would make the slice diverge from the
    // full graph; with unrefined mids the slice equality holds by
    // induction (cur matches ⇒ mids match ⇒ the per-source
    // independent bucketed fetch matches ⇒ next cur matches).
    // Recall is deterministically monotone per round: candidates ⊇
    // the current lists and ranking is the exact rounded cosine.
    var cur = base
    for (r <- 1 to rounds) {
      val nbrs =
        if (srcStride == 0) base
        else {
          val ids = cur.select(col("dst")).distinct()
            .collect().map(_.getLong(0))
          knnGraphBucketedBase(s, dir, nBitsOpt, 0, probeBits, 0, ids,
            KnnRefineFan).select(col("src"), col("dst"))
        }
      val twoHop = cur.select(col("src"), col("dst").as("mid"))
        .join(nbrs.select(col("src").as("mid"), col("dst").as("d2")),
          Seq("mid"))
        .filter(col("src") =!= col("d2"))
        .select(col("src"), col("d2").as("dst"))
      val pairs = cur.select(col("src"), col("dst"))
        .unionByName(twoHop).distinct()
      cur = topOf(pairs, if (r == rounds) KnnK else KnnRefineFan)
        .localCheckpoint()
    }
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_r").desc, col("dst").asc)
    cur.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("src"), col("rank"), col("dst"), col("cos_r"))
  }

  /** NN-descent rounds of the shortfall buy-back. One round measured
    * 0.722 → 0.806 at the ×100 cell (still under [[KnnGraphRecallMin]]);
    * the second expands from the ROUND-1 refined lists — mids are now
    * true near-neighbors, so their bucket lists reach the remaining
    * misses. Per-round cost is |src| × fan² exact scores, linear in
    * the source count; engaged only when the autotuner measured the
    * ladder cap short of the floor (never at a gate SF).
    */
  val KnnRefineRounds = 2

  private[graft] def knnGraphBucketedBase(s: SparkSession, dir: String,
                       nBitsOpt: Int = 0,
                       nTablesOpt: Int = 0,
                       probeBits: Int = LshProbeBits,
                       srcStride: Long = 0,
                       srcIds: Array[Long] = null,
                       k: Int = KnnK): DataFrame = {
    // 0 = size-adaptive (the default): [[bitsFor]] keeps the expected
    // cell at TargetCellRows so the bucket self-join scales linearly;
    // an explicit positive width pins the historical behavior
    val nBits = if (nBitsOpt > 0) nBitsOpt
      else bitsFor(corpusCount(s, dir))
    // 0 = size-adaptive: [[tablesFor]] holds the recall floor by
    // measured autotune — [[LshTables]] at every gate SF, no job run
    val nTables = if (nTablesOpt > 0) nTablesOpt else tablesFor(s, dir)
    val sigs = (0 until nTables).map(t =>
      V.hyperplaneBucket(col("embedding"), planes(nBits, 64, lshSeed(t)))
        .as(s"b$t"))
    val e = corpus(s, dir)
      .select(col("vec_id") +: col("embedding") +: sigs: _*)
    val cTabs = array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"), col(s"b$t").as("bucket"))): _*)
    val c = e.select(col("vec_id").as("dst"), col("embedding").as("ce"),
        explode(cTabs).as("tb"))
      .select(col("dst"), col("ce"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
    val masks = budgetedProbeMasks(nBits, probeBits)
    // the bucket join's shuffles carry the EXPLODED frames — corpus ×
    // tables on one side, corpus × tables × |masks| on the other, every
    // row with its 64-dim embedding — so the right shuffle width follows
    // from those in-flight bytes, not the corpus's input bytes
    // (Partitioning.autoTune's input-byte target under-weights this
    // operator's ~300× amplification: the ×100 run ground multi-GiB
    // partial-aggregate spills per task before this). Equal to the
    // session width at every gate/bench SF.
    val joinW = graft.engine.Partitioning.widthFor(s,
      corpusCount(s, dir) * nTables * (masks.length + 1L), 64L * 4 + 48)
    val qProbes = array((for { t <- 0 until nTables; m <- masks } yield
      struct(lit(t).as("tbl"),
        col(s"b$t").bitwiseXOR(lit(m)).as("bucket"))): _*)
    val qBase =
      if (srcIds != null) e.filter(col("vec_id").isin(srcIds: _*))
      else if (srcStride > 0) e.filter(col("vec_id") % srcStride === 0)
      else e
    val q = qBase.select(col("vec_id").as("src"), col("embedding").as("qe"),
        explode(qProbes).as("tb"))
      .select(col("src"), col("qe"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
    // Degenerate-bucket guard (the Dedup.capBuckets device): a cell
    // holding far more than its expected corpus/2^nBits share — e.g.
    // a mass of near-identical vectors all signing identically — would
    // make that one cell's pair product quadratic. Drop such cells
    // (degenerate, not duplicate, clusters; the other tables still
    // cover their members). The threshold is computed IN-PLAN from the
    // corpus count (8x the expected cell share, floored at 200), so
    // the DuckDB mirror recomputes it — no fitted literal. DIV keeps
    // the arithmetic integer in both engines. Never binds at the test
    // SFs (threshold 250 vs ~31-row cells at sf0.1), which the recall
    // measurements confirm; at a skewed 100 TB it is the guard that
    // keeps the join's worst cell bounded. The BINDING path is
    // exercised by PipelineSpec's planted-cluster cases: identical
    // vectors (all tables degenerate -> zero sibling edges survive)
    // and a diverse one-table pileup (only that cell drops; the other
    // tables hold recall at 0.838 vs the 0.85 three-table point).
    val cellW = Window.partitionBy(col("tbl"), col("bucket"))
    val corpusN = e.agg(count(lit(1)).as("_n"))
    // width-PINNED (tbl, bucket) repartitions on both join inputs, at
    // exactly the widthFor width: they replace the exchanges
    // EnsureRequirements would plant (the cap window and the join both
    // cluster on (tbl, bucket) — no exchange is added), but a
    // user-specified width is exempt from AQE partition coalescing.
    // That matters because this stage's cost model is CPU, not bytes:
    // the SHJ+cosine stage measured ~0.9 s of task time per shuffled
    // MB (StageProf r21 — AQE's byte-based advisory coalesced it to 15
    // of 32 partitions and the stage's wall equaled its max task), and
    // the same ratio at production bytes would put an advisory-sized
    // task at ~minutes of compute. The cell cap bounds the worst cell,
    // so forgoing AQE's skew split here loses nothing the guard does
    // not already provide.
    val cWide = c.repartition(joinW, col("tbl"), col("bucket"))
    val qWide = q.repartition(joinW, col("tbl"), col("bucket"))
    val cCapped = cWide
      .withColumn("_bsz", count(lit(1)).over(cellW))
      .crossJoin(broadcast(corpusN))
      .filter(col("_bsz") <= greatest(lit(CellCapFloor),
        expr(s"_n * $CellCapFactor DIV ${1 << nBits}")))
      .drop("_bsz", "_n")
    // bucket-keyed shuffle join, pinned SHUFFLE-HASH with the corpus
    // side as build: both sides are corpus-sized, so the broadcast AQE
    // would pick at toy scale is exactly what dies at 100 TB — but
    // unlike the previous merge pin, SHJ never SORTS the probe side —
    // the |masks|-amplified (22×) explode carrying the query embedding,
    // whose sort was the join's dominant cost at ×100; the build side
    // hashes corpus×tables/width rows per partition, bounded by the
    // byte-derived shuffle width (engine.Partitioning). Measured at
    // ×100 in SCALING.md r14.
    val pairs = cCapped.hint("shuffle_hash").join(qWide, Seq("tbl", "bucket"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cos", round(V.cosine(col("qe"), col("ce")), 6))
      // same pair from several tables/probes carries the same cosine:
      // max() is exact and the map-side partial shrinks the shuffle
      .groupBy(col("src"), col("dst"))
      .agg(max(col("cos")).as("cos_r"))
    val top = graft.plans.TopKPlans.groupedTopK(pairs,
      Seq(col("src")), Seq(col("cos_r").desc, col("dst").asc), k)
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_r").desc, col("dst").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("src"), col("rank"), col("dst"), col("cos_r"))
  }

  /** The size-adaptive knobs, as the ORACLE generators must mirror
    * them: the cached corpus count when the query ran in this JVM
    * (Verify runs queries before dumping oracles, so the cache is
    * warm), else the historical constants — which are exactly what the
    * adaptive functions return at every SF the correctness gate runs.
    */
  def oracleStride(dirOpt: Option[String]): Long =
    dirOpt.flatMap(cachedCorpusCount).map(strideFor)
      .getOrElse(KnnStride.toLong)
  def oracleBits(dirOpt: Option[String]): Int =
    dirOpt.flatMap(cachedCorpusCount).map(bitsFor).getOrElse(LshBits)

  def knnGraphOracleSql(stride: Long): String =
    s"""
      WITH q AS (
        SELECT vec_id AS src, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id % $stride = 0),
      c AS (
        SELECT vec_id AS dst, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings),
      s AS (
        SELECT src, dst, round(list_cosine_similarity(qe, ce), 6) AS cos_r
        FROM q, c WHERE src <> dst),
      r AS (
        SELECT src, dst, cos_r,
          row_number() OVER (PARTITION BY src
            ORDER BY cos_r DESC, dst) AS rank
        FROM s)
      SELECT src, rank, dst, cos_r FROM r WHERE rank <= $KnnK"""
}
