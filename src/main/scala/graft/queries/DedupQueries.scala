package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.operators.{Dedup, Embedder, JaccardIndex}
import DocSql.{toksCte, tokenHashSql}

/** Deduplication queries over `documents.parquet` (BASELINE.json north star).
  * Five distinct dedup families — exact content hash, prefix-filtered n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine — each replayed
  * exactly by the DuckDB oracle, constants included (the MinHash hash-family
  * parameters, prefix-filter rule, band layouts, and bucket caps are
  * interpolated from the same Scala values the operators use, so Spark and
  * SQL cannot drift).
  *
  * Thresholds are tuned to the driver-planted near-dup structure: the sf0.01
  * corpus carries 25 pairs with 3-gram Jaccard ≥ 0.5 (max 0.989), which LSH
  * banding (8 bands × 2 rows) recovers in full.
  */
object DedupQueries extends graft.QueryModule {

  private val N = 3 // token shingle width
  private val MinJ = 0.5
  private val MaxHamming = 1
  private val MinCos = 0.95
  private val Dim = 64
  // AND-composed grid cells, not 1-D slabs. Measured on the hashTF corpus:
  // projections spread ≈ N(−0.09, 0.07), so 0.12 buckets give each plane a
  // handful of slabs; 5 planes AND-composed per table multiply that into
  // thousands of grid cells, and 12 OR-tables buy recall back (26/26 planted
  // pairs at sf0.01, 479/485 at sf0.1 vs the brute-force verifier). At sf0.1
  // the grid tests ~23% of all pairs (2.9M collision checks vs 12.5M brute)
  // — this 5k-doc corpus of correlated hashTF vectors sits just below the
  // LSH crossover, so the two queries land within ~1.3x of each other and
  // the gap inverts as the corpus grows (brute is quadratic, collisions
  // track the near-dup density). Configs with ~1/3 less work exist at 2-3
  // recall points lower (grid-searched); recall wins here.
  private val CosBucketLen = 0.12
  private val CosTables = 12
  private val CosPlanes = 5
  // SemDeDup coarse clusters: n/lists ≈ 60-600 docs per cluster across the
  // tested SFs — small enough that within-cluster pairs stay far below the
  // bucket cap, large enough that the planted near-dup pairs co-cluster.
  private val SemLists = 8

  /** The stand-in ingest split used by the incremental queries: every 10th
    * doc is "the new batch", the rest "the existing corpus". */
  private val deltaPred = col("doc_id") % 10 === 0

  /** Stored base-corpus label table (doc_id, cluster_id) — the clustering
    * as an artifact the incremental ingest maintains. Built once per
    * (session, dir); `dedup_clusters_incremental` pays it at first touch
    * as its own store DDL (like the delete rows' dedicated layouts). */
  private object CcLabelLayout {
    def ensure(s: SparkSession, dir: String): String =
      graft.Layouts.once(s, s"cclabels:$dir") {
        val tag = graft.Layouts.tag(dir)
        val name = s"graft_cclabels_$tag"
        val base = Tables.documents(s, dir).filter(!deltaPred)
        // base pairs = the memoized full-corpus pair set restricted to
        // base×base endpoints — pair verification is pairwise-exact, so
        // the restriction IS jaccardJoin(base); reusing the shared memo
        // (paid by dedup_clusters, alphabetically first) avoids paying
        // the corpus pair join twice in one session
        val basePairs = ccPairs(s, dir)
          .filter(!(col("a_id") % 10 === 0) && !(col("b_id") % 10 === 0))
        val labels = Dedup.connectedComponents(basePairs,
          base.select("doc_id"), "doc_id")
        // the VERSIONED store (base rows at __v=0): ingest appends only
        // relabeled rows and readers resolve latest-wins — the O(affected)
        // persistence the streaming face rides
        graft.operators.CcLabels.initLabelStore(labels, name,
          s"/tmp/graft_cclabels/$tag", "doc_id", 8)
        name
      }
  }

  /** One persisted prefix index per (session, scale dir), memoized via
    * [[graft.Layouts]] so the build — the engine's index-DDL cost — runs
    * once per JVM: `dedup_jaccard_index_build` pays it as a Bench producer,
    * and `dedup_jaccard_incremental_indexed` then probes the stored tables
    * only. */
  private object JidxLayout {
    def ensure(s: SparkSession, dir: String): JaccardIndex.IndexTables =
      graft.Layouts.once(s, s"jidx:$dir") {
        val tag = graft.Layouts.tag(dir)
        JaccardIndex.build(Tables.documents(s, dir).filter(!deltaPred),
          "doc_id", "text", N, MinJ, tag, s"/tmp/graft_jidx/$tag", 8)
      }
  }

  /** ExactSubstr window width (tokens). 8 on this corpus: long enough that
    * duplicated spans are real boilerplate, short enough that the planted
    * near-dup structure produces them at every SF. */
  private val SpanK = 8

  /** Containment threshold (Dedup.containmentJoin) — binary-exact so
    * ⌈t·m⌉ is the mathematical ceiling on every engine. */
  private val MinC = 0.75

  /** Winnowing window (gram positions per selection window) — guarantee
    * threshold t = WinnowW + SpanK − 1 = 11 shared tokens; density ≈
    * 2/(WinnowW+1) = 0.4 of gram count. */
  private val WinnowW = 4
  /** Pair-census boilerplate cap: fingerprints in more than this many docs
    * generate no candidates (the bounded-fanout lever at corpus scale). */
  private val WinnowMaxDf = 100
  /** Pair census keeps pairs sharing at least this many fingerprints. */
  private val WinnowMinShared = 2

  /** One persisted span-count index per (session, scale dir) over the
    * non-delta corpus, memoized like [[JidxLayout]]. */
  private object SpidxLayout {
    def ensure(s: SparkSession, dir: String): graft.operators.SpanDedup.IndexTable =
      graft.Layouts.once(s, s"spidx:$dir") {
        val tag = graft.Layouts.tag(dir)
        graft.operators.SpanDedup.buildIndex(
          Tables.documents(s, dir).filter(!deltaPred), "doc_id", "text",
          SpanK, tag, s"/tmp/graft_spidx/$tag", 8)
      }
  }

  /** The delete fixture's own span index (the shared [[SpidxLayout]] must
    * keep its full counts — its recount gates would turn red): built over
    * the non-delta corpus, then the even-id docs are deleted by EXACT
    * DECREMENT ([[graft.operators.SpanDedup.deleteFromIndex]] — the
    * [[graft.operators.CountStore]] delete) and compacted, so the store
    * physically holds the live corpus's net counts. */
  private object SpidxDeleteLayout {
    def ensure(s: SparkSession, dir: String): graft.operators.SpanDedup.IndexTable =
      graft.Layouts.once(s, s"spidxdel:$dir") {
        val tag = graft.Layouts.tag(dir) + "del"
        val t = graft.operators.SpanDedup.buildIndex(
          Tables.documents(s, dir).filter(!deltaPred), "doc_id", "text",
          SpanK, tag, s"/tmp/graft_spidxdel/$tag", 8)
        graft.operators.SpanDedup.deleteFromIndex(t,
          Tables.documents(s, dir).filter(!deltaPred && col("doc_id") % 2 === 0),
          "doc_id", "text", SpanK, 8)
        graft.operators.SpanDedup.compactIndex(s, t, 8)
        t
      }
  }

  /** The append-ingest twin of [[SpidxLayout]]: base build over the
    * non-delta corpus, then the delta's counts appended O(delta)
    * ([[graft.operators.SpanDedup.appendToIndex]]) — the table ends up
    * with SPLIT counts, whose probe semantics and recount invariants equal
    * a from-scratch build over the full corpus. */
  private object SpidxAppendLayout {
    def ensure(s: SparkSession, dir: String): graft.operators.SpanDedup.IndexTable =
      graft.Layouts.once(s, s"spidxapp:$dir") {
        val tag = graft.Layouts.tag(dir) + "app"
        val t = graft.operators.SpanDedup.buildIndex(
          Tables.documents(s, dir).filter(!deltaPred), "doc_id", "text",
          SpanK, tag, s"/tmp/graft_spidx/$tag", 8)
        graft.operators.SpanDedup.appendToIndex(t,
          Tables.documents(s, dir).filter(deltaPred), "doc_id", "text",
          SpanK, 8)
        t
      }
  }

  /** Persisted CDC chunk store over the non-delta corpus ([[JidxLayout]]
    * memo pattern); the append twin builds on the base then appends the
    * delta's chunk counts O(delta). */
  private[queries] object CdcLayout {
    def ensure(s: SparkSession, dir: String): graft.operators.Cdc.StoreTable =
      graft.Layouts.once(s, s"cdcstore:$dir") {
        val tag = graft.Layouts.tag(dir)
        graft.operators.Cdc.buildStore(
          Tables.documents(s, dir).filter(!deltaPred), "doc_id", "text",
          graft.operators.Cdc.DefaultModulus, tag, s"/tmp/graft_cdc/$tag", 8)
      }
  }
  /** The delete fixture's own chunk store ([[SpidxDeleteLayout]]'s CDC
    * sibling — the shared [[CdcLayout]] must keep its full census): built
    * over the non-delta corpus, even-id docs deleted by exact decrement
    * ([[graft.operators.Cdc.deleteFromStore]]) and compacted, so the
    * store physically holds the live corpus's net chunk counts. */
  private object CdcDeleteLayout {
    def ensure(s: SparkSession, dir: String): graft.operators.Cdc.StoreTable =
      graft.Layouts.once(s, s"cdcstoredel:$dir") {
        val tag = graft.Layouts.tag(dir) + "del"
        val t = graft.operators.Cdc.buildStore(
          Tables.documents(s, dir).filter(!deltaPred), "doc_id", "text",
          graft.operators.Cdc.DefaultModulus, tag, s"/tmp/graft_cdcdel/$tag", 8)
        graft.operators.Cdc.deleteFromStore(t,
          Tables.documents(s, dir).filter(!deltaPred && col("doc_id") % 2 === 0),
          "doc_id", "text", graft.operators.Cdc.DefaultModulus, 8)
        graft.operators.Cdc.compactStore(s, t, 8)
        t
      }
  }
  private object CdcAppendLayout {
    def ensure(s: SparkSession, dir: String): graft.operators.Cdc.StoreTable =
      graft.Layouts.once(s, s"cdcstoreapp:$dir") {
        val tag = graft.Layouts.tag(dir) + "app"
        val t = graft.operators.Cdc.buildStore(
          Tables.documents(s, dir).filter(!deltaPred), "doc_id", "text",
          graft.operators.Cdc.DefaultModulus, tag, s"/tmp/graft_cdc/$tag", 8)
        graft.operators.Cdc.appendToStore(t,
          Tables.documents(s, dir).filter(deltaPred), "doc_id", "text",
          graft.operators.Cdc.DefaultModulus, 8)
        t
      }
  }

  /** The verified near-dup pair list and its min-label clusters, memoized
    * per (session, dir) — the CC gate, the incremental label store's
    * base, the survivor policy and the dedup-aware splits consume the same
    * pairs, and all but the label store the same clusters; keyed memo because the CC loop's localCheckpoint
    * frames defeat plan equality. dedup_clusters (alphabetically first of
    * the cluster consumers) absorbs the cluster build in Bench. */
  private def ccPairs(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"ccpairs:$dir")(
      Dedup.jaccardJoin(Tables.documents(s, dir), "doc_id", "text", N, MinJ)
        .select("a_id", "b_id"))

  private def ccClusters(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"ccclusters:$dir")(
      Dedup.connectedComponents(ccPairs(s, dir),
        Tables.documents(s, dir).select("doc_id"), "doc_id"))

  /** The salted 80/20 split assignment over a key column — ONE definition
    * for the cluster-keyed (leakage-free) and doc-keyed (naive contrast)
    * splits; its SQL twin is [[splitAssignSql]]. */
  private def splitAssign(key: org.apache.spark.sql.Column) =
    when(pmod(graft.functions.TextFunctions.tokenHash(
      concat(lit("ccsplit"), key.cast("string"))), lit(10L)) < 8, "train")
      .otherwise("test")

  private def splitAssignSql(keySql: String): String =
    s"CASE WHEN ${tokenHashSql(s"'ccsplit' || CAST($keySql AS VARCHAR)")} % 10 < 8 THEN 'train' ELSE 'test' END"

  /** Count of verified pairs whose endpoints landed on different sides —
    * the leakage number both split pins carry (0 for the cluster-keyed
    * split by construction). Coalesced: zero pairs must read 0, not NULL
    * (the oracle's coalesce mirrored). Its SQL twin is [[crossPairsCpCte]]. */
  private def crossPairCount(pairs: DataFrame, assigned: DataFrame): DataFrame =
    pairs
      .join(assigned.select(col("doc_id").as("a_id"),
        col("split").as("__sa")), "a_id")
      .join(assigned.select(col("doc_id").as("b_id"),
        col("split").as("__sb")), "b_id")
      .agg(coalesce(sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)),
        lit(0L)).as("n_cross_pairs"))

  private val crossPairsCpCte: String =
    """cp AS (SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_pairs
      |  FROM pairs p JOIN asn a ON a.doc_id = p.a_id
      |  JOIN asn b ON b.doc_id = p.b_id)""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactAssign(Tables.documents(s, dir), "doc_id", "text")),
    // Fuzzy entity resolution: all DISTINCT part-name pairs within
    // Levenshtein distance 2, found via the Gravano q-gram length+count
    // filters (EditJoin scaladoc) — candidate generation is one equi-join
    // on bigram values over distinct names, so repeated names at corpus
    // scale add zero join work; only filter survivors pay the O(|a|·|b|)
    // levenshtein verify. n_row_pairs = how many ROW pairs each name pair
    // would conflate (the merge-impact weight an ER pipeline ranks by).
    // The oracle brute-forces the same distinct-name domain.
    "dedup_edit_pairs" -> ((s, dir) => {
      val names = Tables.part(s, dir)
        .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
      graft.operators.EditJoin.similarNamePairs(names, "p_name", "cnt", 2)
        .select(col("a_name"), col("b_name"), col("edit_dist"),
          (col("a_cnt") * col("b_cnt")).as("n_row_pairs"))
    }),
    // Containment pairs (Dedup.containmentJoin scaladoc): inclusion under
    // edits — the fuzzy sibling of the verbatim span detector, catching
    // truncated copies and quoted boilerplate whose whole-doc Jaccard is
    // far below any dedup threshold.
    "dedup_containment_pairs" -> ((s, dir) =>
      Dedup.containmentJoin(Tables.documents(s, dir), "doc_id", "text",
        N, MinC)),
    // Entity-resolution pipeline (one-row composition pin): fuzzy match
    // (EditJoin's q-gram-filtered pairs) → transitive closure (the SAME
    // pointer-doubling CC the near-dup family runs) → canonical-survivor
    // election (max row count, ties lexicographic) — blocking, clustering,
    // and survivorship composed end to end; the card turns red on a
    // stage-order or policy drift even when each stage's own query stays
    // green. rows_affected = rows whose name a merge would rewrite.
    "pipeline_entity_resolution" -> ((s, dir) => {
      val names = Tables.part(s, dir)
        .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
      // localCheckpoint: both the CC edge build and the n_pairs census
      // read this frame — without it each re-runs the q-gram join +
      // levenshtein verify (the card's dominant cost)
      val pairs = graft.operators.EditJoin
        .similarNamePairs(names, "p_name", "cnt", 2)
        .select(col("a_name").as("a_id"), col("b_name").as("b_id"))
        .localCheckpoint()
      val cc = Dedup.connectedComponents(
        pairs, names.select(col("p_name")), "p_name")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("cnt").desc, col("p_name"))
      val ranked = cc.join(names, "p_name")
        .withColumn("rn", row_number().over(w))
        .withColumn("csz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      names.agg(count(lit(1)).as("n_names"))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
        .crossJoin(broadcast(cc.agg(
          count_distinct(col("cluster_id")).as("n_clusters"))))
        .crossJoin(broadcast(ranked.filter(col("rn") > 1).agg(
          count(lit(1)).as("n_absorbed"),
          coalesce(sum(col("cnt")), lit(0L)).as("rows_affected"))))
        .crossJoin(broadcast(ranked.filter(col("rn") === 1 && col("csz") > 1)
          .agg(coalesce(sum(graft.functions.TextFunctions.tokenHash(
            col("p_name"))), lit(0L)).as("survivor_checksum"))))
    }),
    // Winnowing fingerprint census (Winnow scaladoc): per-doc gram count,
    // selected-fingerprint count and position/hash checksums — a density
    // drift (selection rule, tie-break, short-doc partial window) turns
    // the row red even when the pair census below stays stable.
    "dedup_winnow_census" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fp = graft.operators.Winnow.fingerprints(
        docs, "doc_id", "text", SpanK, WinnowW)
      val ng = graft.operators.SpanDedup.gramPositions(
          docs, "doc_id", "text", SpanK)
        .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"),
          sum(col("fp_hash")).as("fp_checksum"),
          sum(col("fp_pos")).as("pos_checksum"))
        .join(ng, "doc_id")
        .select(col("doc_id"), col("n_grams"), col("n_fp"),
          col("fp_checksum"), col("pos_checksum"))
    }),
    // MOSS pair census: doc pairs sharing >= WinnowMinShared winnowed
    // fingerprints after the WinnowMaxDf boilerplate cap — the
    // recall-guaranteed (>= W+K-1 shared tokens) sub-document overlap
    // detector next to the whole-doc Jaccard/LSH family.
    "dedup_winnow_pairs" -> ((s, dir) =>
      graft.operators.Winnow.sharedFingerprintPairs(Tables.documents(s, dir),
        "doc_id", "text", SpanK, WinnowW, WinnowMinShared, WinnowMaxDf)),
    // CDC chunk-store build: recount invariants of the persisted census
    // (distinct hashes + total copies) vs the oracle's from-scratch census
    // over the same (non-delta) corpus.
    "dedup_cdc_index_build" -> ((s, dir) => {
      val t = CdcLayout.ensure(s, dir)
      s.table(t.chunks).agg(
        count_distinct(col("chunk_hash")).as("n_hashes"),
        coalesce(sum(col("__c")), lit(0L)).cast("long").as("n_copies"))
    }),
    // O(delta) append: same recount invariants over the FULL corpus —
    // invariant under the count splitting an append produces, so a dropped
    // batch, a double append, or a re-hashed chunk turns this red.
    "dedup_cdc_index_append" -> ((s, dir) => {
      val t = CdcAppendLayout.ensure(s, dir)
      s.table(t.chunks).agg(
        count_distinct(col("chunk_hash")).as("n_hashes"),
        coalesce(sum(col("__c")), lit(0L)).cast("long").as("n_copies"))
    }),
    // Compaction of the appended store: same recount invariants PLUS the
    // one-row-per-hash property (n_rows == n_hashes) — red if the rewrite
    // dropped counts, kept splits, or lost rows.
    "dedup_cdc_index_compact" -> ((s, dir) => {
      val t = graft.Layouts.once(s, s"cdcstorecmp:$dir") {
        val tt = CdcAppendLayout.ensure(s, dir)
        graft.operators.Cdc.compactStore(s, tt, 8)
        tt
      }
      s.table(t.chunks).agg(
        count_distinct(col("chunk_hash")).as("n_hashes"),
        coalesce(sum(col("__c")), lit(0L)).cast("long").as("n_copies"),
        count(lit(1)).as("n_rows"))
    }),
    // Ingest-batch dedup hit rate: the delta's chunks probed against the
    // stored census — per new doc, how much the store already holds.
    "dedup_cdc_incremental" -> ((s, dir) =>
      graft.operators.Cdc.probeStore(s, CdcLayout.ensure(s, dir),
        Tables.documents(s, dir).filter(deltaPred), "doc_id", "text",
        graft.operators.Cdc.DefaultModulus)),
    // Forget at the CHUNK store (dedup_span_deleted's CDC sibling — the
    // same exact-decrement mechanic on the third count-keyed structure):
    // even-id corpus docs decremented out of a dedicated store and
    // compacted; the delta batch's hit rates re-probe — chunks held only
    // by deleted docs stop counting as known. The oracle restricts the
    // known-chunk base to the live corpus, pinning the decrement + the
    // net-presence probe end to end.
    "dedup_cdc_deleted" -> ((s, dir) =>
      graft.operators.Cdc.probeStore(s, CdcDeleteLayout.ensure(s, dir),
        Tables.documents(s, dir).filter(deltaPred), "doc_id", "text",
        graft.operators.Cdc.DefaultModulus)),
    // Content-defined chunking (LBFS rolling-hash boundaries): per-doc
    // chunk count + order-sensitive digest of the chunk-hash sequence —
    // pins boundary placement AND chunk contents.
    "dedup_cdc_chunks" -> ((s, dir) =>
      graft.operators.Cdc.perDoc(
        graft.operators.Cdc.chunks(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id")),
    // The corpus storage census over the same chunk table: how many tokens
    // collapse as duplicate chunk copies (the chunk-store dedup win).
    "dedup_cdc_stats" -> ((s, dir) =>
      graft.operators.Cdc.stats(
        graft.operators.Cdc.chunks(Tables.documents(s, dir), "doc_id", "text"))),
    // Append-ingest rebuild equivalence for the span count index: base
    // build + O(delta) count append recounted against a from-scratch
    // full-corpus window census. `count(DISTINCT __gh)` and `sum(__c)` are
    // invariant under the count-splitting an append produces, so a dropped
    // batch, a double-append, or a re-hashed window turns this red.
    "dedup_span_index_append" -> ((s, dir) => {
      val t = SpidxAppendLayout.ensure(s, dir)
      s.table(t.counts).agg(
        count_distinct(col("__gh")).as("n_hashes"),
        coalesce(sum(col("__c")), lit(0L)).as("n_windows"))
    }),
    // The lifecycle's third act: compacting the appended index back to one
    // row per hash must preserve the probe-visible content exactly —
    // n_rows == n_hashes pins the compaction itself, the other two pin
    // content against the same from-scratch census as the append gate.
    // Order-independent with dedup_span_index_append: both emit
    // splitting-invariant aggregates, so either may run (and rewrite)
    // first.
    "dedup_span_index_compact" -> ((s, dir) => {
      val t = SpidxAppendLayout.ensure(s, dir)
      graft.operators.SpanDedup.compactIndex(s, t, 8)
      s.table(t.counts).agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("__gh")).as("n_hashes"),
        coalesce(sum(col("__c")), lit(0L)).as("n_windows"))
    }),
    // ExactSubstr span accounting (Lee et al., ACL 2022): per doc, how many
    // maximal >= SpanK-token regions occur elsewhere in the corpus (or again
    // in the same doc), and how many tokens they cover — the dial a pipeline
    // reads before cutting.
    "dedup_span_stats" -> ((s, dir) =>
      graft.operators.SpanDedup.spanStats(
        Tables.documents(s, dir), "doc_id", "text", SpanK)),
    // The cut itself: duplicated spans removed, kept token stream rejoined.
    "dedup_span_clean" -> ((s, dir) =>
      graft.operators.SpanDedup.removeSpans(
        Tables.documents(s, dir), "doc_id", "text", SpanK)),
    // Span-index DDL as its own gated query: persist the corpus window-hash
    // counts; the oracle recomputes both totals from scratch, so a build
    // that drops, double-counts, or mis-hashes windows turns red here.
    "dedup_span_index_build" -> ((s, dir) => {
      val t = SpidxLayout.ensure(s, dir)
      s.table(t.counts).agg(count(lit(1)).as("n_hashes"),
        coalesce(sum(col("__c")), lit(0L)).as("n_windows"))
    }),
    // The O(delta) ingest path of span dedup: the new batch's spans against
    // corpus ∪ batch, with the corpus appearing ONLY through probes of the
    // persisted count index. The oracle replays the one-shot batch rule over
    // the full corpus restricted to the delta docs — the two are provably
    // the same marking (corpus ≥ 1 ∨ delta ≥ 2 ⟺ total ≥ 2), so this row
    // pins the equivalence, not just plumbing.
    "dedup_span_incremental" -> ((s, dir) =>
      graft.operators.SpanDedup.incrementalSpanStats(s, SpidxLayout.ensure(s, dir),
        Tables.documents(s, dir).filter(deltaPred), "doc_id", "text", SpanK)),
    // Forget at the COUNT store — the delete family's third mechanic
    // (tombstones anti-join rows; a count store has no row per doc, so a
    // takedown DECREMENTS the deleted docs' window counts exactly and the
    // probe reads net presence): the even-id corpus docs are deleted from
    // a dedicated span index, the store compacted (net-zero hashes
    // physically purged), and the delta batch's span accounting re-runs —
    // spans that only matched deleted docs unmark, everything else holds.
    // The oracle replays the one-shot marking with the duplicate pool
    // restricted to delta ∪ live corpus, pinning the decrement arithmetic
    // end to end.
    "dedup_span_deleted" -> ((s, dir) =>
      graft.operators.SpanDedup.incrementalSpanStats(s,
        SpidxDeleteLayout.ensure(s, dir),
        Tables.documents(s, dir).filter(deltaPred), "doc_id", "text", SpanK)),
    "dedup_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardJoin(Tables.documents(s, dir), "doc_id", "text", N, MinJ)),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshJoin(Tables.documents(s, dir), "doc_id", "text", N, MinJ)),
    // Index build as its own gated query: persists the corpus prefix index
    // (bucketed df / prefix / per-doc gram-set tables) and reports its
    // shape; the oracle recomputes both counts from scratch, so a build
    // that misorders, drops, or duplicates prefix entries turns red here.
    "dedup_jaccard_index_build" -> ((s, dir) => {
      val t = JidxLayout.ensure(s, dir)
      s.table(t.docsets).agg(count(lit(1)).as("n_docs"))
        .crossJoin(s.table(t.prefix).agg(count(lit(1)).as("n_prefix_entries")))
    }),
    // Daily-ingest shape: near-dups of a new batch (stand-in: every 10th
    // doc) against the existing corpus. The corpus appears ONLY through
    // probes of the persisted index: per-batch work is O(|delta| ×
    // collision rate), with no full-corpus df recount or re-shingling, and
    // the answer equals a from-scratch prefix join over corpus ∪ delta
    // (lossless candidates under any consistent gram order + exact
    // verification — the oracle replays exactly that).
    "dedup_jaccard_incremental_indexed" -> ((s, dir) =>
      JaccardIndex.incrementalJoin(s, JidxLayout.ensure(s, dir),
        Tables.documents(s, dir).filter(deltaPred), "doc_id", "text", N, MinJ)),
    // Delete-aware dedup serving — the forget loop reaches the DEDUP index
    // too (a takedown's shingle data persists in the stored prefix/docset
    // tables until purge, and matching against it would resurface the dead
    // document): every even doc id is tombstoned against the stored index
    // (Tombstones at the index's basePath) and the incremental join drops
    // their candidates BEFORE verification via a partitioning-preserving
    // anti-join on the prefix table. Verified pairs equal an index built
    // over the live corpus exactly — prefix filtering is lossless under
    // any consistent df order, so exclusion at candidates is exclusion
    // from the answer, nothing else shifts. Physical purge
    // (JaccardIndex.purgeDeleted) is spec-pinned; the one oracle-gated
    // purge pin of the delete family is pipeline_forget.
    "dedup_jaccard_deleted" -> ((s, dir) => {
      val t = JidxLayout.ensure(s, dir)
      val tombs = Fixtures.tombsAt(s, s"jidxtombs:$dir",
        s"/tmp/graft_jidx/${graft.Layouts.tag(dir)}", "doc_id")(
        Tables.documents(s, dir).filter(col("doc_id") % 2 === 0))
      JaccardIndex.incrementalJoin(s, t,
        Tables.documents(s, dir).filter(deltaPred), "doc_id", "text", N, MinJ,
        excludeIds = Some(tombs))
    }),
    // Pairs → clusters: the keep/drop decision of the dedup pipeline. Every
    // doc gets the min id reachable through the verified near-dup pairs as
    // its cluster id; is_rep marks the one document of each cluster a
    // pipeline keeps. Pregel-style min propagation (one keyed shuffle per
    // round, rounds = cluster diameter), mirrored in SQL by a recursive CTE.
    "dedup_clusters" -> ((s, dir) => {
      val cc = ccClusters(s, dir)
      // sizes by aggregate-join, not a window: the window form would sort
      // the full corpus inside one partition per cluster id at scale.
      val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_rep"))
    }),
    // Dedup-AWARE train/test split — the leakage-free split an eval
    // pipeline needs: assignment hashes the CLUSTER id, not the doc id, so
    // near-duplicates always land on the same side (a doc-hash split
    // leaks ~20% of near-dup pairs across the boundary and inflates eval).
    // The pin carries the proof: n_cross_pairs counts verified near-dup
    // pairs straddling the split and must be 0 by construction.
    "sample_split_dedup_aware" -> ((s, dir) => {
      val assigned = ccClusters(s, dir)
        .withColumn("split", splitAssign(col("cluster_id")))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("cluster_id")).as("n_clusters"),
          sum(col("doc_id")).as("id_checksum"))
        .crossJoin(broadcast(crossPairCount(ccPairs(s, dir), assigned)))
    }),
    // The CONTRAST row: the naive doc-hash split over the same corpus —
    // its n_cross_pairs counts verified near-dup pairs that straddle the
    // train/test boundary (non-zero on this corpus), the leakage the
    // cluster-keyed split provably eliminates. Same hash family, same
    // 80/20 rate; only the hashed KEY differs.
    "eval_split_leakage_naive" -> ((s, dir) => {
      val assigned = Tables.documents(s, dir).select("doc_id")
        .withColumn("split", splitAssign(col("doc_id")))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
        .crossJoin(broadcast(crossPairCount(ccPairs(s, dir), assigned)))
    }),
    // Eval-set construction pipeline (one-row composition pin): held-out
    // decontamination (drop pool docs sharing any long n-gram with the
    // benchmark slice — clean_contamination's gate) THEN the cluster-keyed
    // leakage-free split. The card pins pool size, contamination drops,
    // both split sides (counts + checksums), and the zero cross-pair
    // guard over the surviving pool — the end-to-end invariant an eval
    // pipeline must hold even when each stage query is green alone.
    "pipeline_eval_set" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sh = Dedup.shingleHashes(docs, "doc_id", "text",
        CleanQueries.ContamN)
      val bench = sh.filter(col("doc_id") <= CleanQueries.BenchMaxId)
        .select(col("__gh")).distinct()
      val contaminated = sh.filter(col("doc_id") > CleanQueries.BenchMaxId)
        .join(bench, "__gh").select("doc_id").distinct()
      val pool = docs.filter(col("doc_id") > CleanQueries.BenchMaxId)
        .select("doc_id")
      val clean = pool.join(contaminated, Seq("doc_id"), "left_anti")
      val assigned = ccClusters(s, dir).join(clean, "doc_id")
        .withColumn("split", splitAssign(col("cluster_id")))
      // coalesce to 0 on an empty clean pool (every pool doc contaminated):
      // a global agg still emits one row, and the oracle's aggregate-
      // without-GROUP-BY twin must see identical zeros, not NULLs.
      val sums = assigned.agg(
        coalesce(sum(when(col("split") === "train", 1L).otherwise(0L)), lit(0L))
          .as("n_train"),
        coalesce(sum(when(col("split") === "test", 1L).otherwise(0L)), lit(0L))
          .as("n_test"),
        coalesce(sum(when(col("split") === "train", col("doc_id"))), lit(0L))
          .as("train_checksum"),
        coalesce(sum(when(col("split") === "test", col("doc_id"))), lit(0L))
          .as("test_checksum"))
      pool.agg(count(lit(1)).as("n_pool"))
        .crossJoin(contaminated.agg(count(lit(1)).as("n_contaminated")))
        .crossJoin(sums)
        .crossJoin(broadcast(crossPairCount(ccPairs(s, dir), assigned)))
    }),
    // The corpus DATASHEET (one-row composition pin): the card every
    // training-data release ships — size, token mass, language spread,
    // quality pass rate, near-duplication — drawn from FOUR families'
    // shared machinery in one row (tokens + lang-ID from TextFunctions,
    // the Gopher gate from CleanFunctions.Gopher, clusters from the
    // memoized CC build). Every number is an exact integer / deterministic
    // argmax, so the whole card hash-gates; any stage drifting (tokenizer,
    // predictor, quality thresholds, pair verification) turns THIS row red
    // even when the stage's own query is green on its narrower fixture.
    "report_dataset_card" -> ((s, dir) => {
      val g = graft.functions.CleanFunctions.Gopher
      val perDoc = Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("__toks"))
        .select(col("doc_id"), {
          val (nt, ch, al, st) = g.counts(col("__toks"))
          struct(nt.as("nt"), g.keep(nt, ch, al, st).as("keep"),
            graft.functions.TextFunctions.langIdFromTokens(col("__toks"))
              .as("lang")).as("__d")
        })
        .select(col("doc_id"), col("__d.nt").as("__nt"),
          col("__d.keep").as("__keep"), col("__d.lang").as("__lang"))
      val core = perDoc.agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).cast("long").as("n_tokens"),
        count_distinct(col("__lang")).as("n_langs"),
        sum(when(col("__keep"), 1L).otherwise(0L)).cast("long")
          .as("n_gopher_pass"))
      val topLang = perDoc.groupBy("__lang").agg(count(lit(1)).as("__c"))
        .orderBy(col("__c").desc, col("__lang")).limit(1)
        .select(col("__lang").as("top_lang"), col("__c").as("top_lang_docs"))
      val dup = ccClusters(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("__sz"))
        .agg(coalesce(sum(when(col("__sz") > 1L, 1L).otherwise(0L)), lit(0L))
          .as("n_dup_clusters"),
          coalesce(sum(when(col("__sz") > 1L, col("__sz")).otherwise(0L)),
            lit(0L)).as("n_near_dup_docs"))
      core.crossJoin(broadcast(topLang)).crossJoin(broadcast(dup))
    }),
    // The survivor POLICY a real pipeline wants: keep each cluster's
    // LONGEST member, not its smallest id (truncated copies of a page are
    // common near-dups — min-id keep throws away the fullest version about
    // half the time). One aggregate-join for sizes + one per-cluster argmax
    // window (sorts bounded by cluster size); the oracle replays the
    // closure and the argmax.
    "dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cc = ccClusters(s, dir)
      val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      val withNt = cc.join(docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("__nt")), "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id")).orderBy(col("__nt").desc, col("doc_id"))
      withNt.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .join(sizes, "cluster_id")
        .select(col("cluster_id"), col("cluster_size"),
          col("doc_id").as("rep_id"), col("__nt").as("rep_tokens"))
    }),
    // Connected components as a MAINTAINED artifact: stored base labels +
    // an O(affected) ingest merge (CcLabels.incrementalComponents) — the
    // daily-crawl face of the clustering, where re-running corpus-wide CC
    // per batch is the 100 TB pain. New edges come from the persisted
    // prefix index (delta-vs-base probes, O(delta)) plus the delta's
    // internal pairs; untouched components keep their stored labels
    // verbatim. Gated by the IDENTICAL oracle as dedup_clusters: the
    // incrementally-merged table must equal the one-shot clustering of
    // corpus ∪ delta, row for row.
    "dedup_clusters_incremental" -> ((s, dir) => {
      val t = JidxLayout.ensure(s, dir)
      val lbl = CcLabelLayout.ensure(s, dir)
      val delta = Tables.documents(s, dir).filter(deltaPred)
      val newPairs = JaccardIndex.incrementalJoin(s, t, delta, "doc_id",
          "text", N, MinJ).select("a_id", "b_id")
        .unionAll(Dedup.jaccardJoin(delta, "doc_id", "text", N, MinJ)
          .select("a_id", "b_id"))
      val merged = graft.operators.CcLabels.incrementalComponents(
        graft.operators.CcLabels.readLabels(s, lbl, "doc_id"), "doc_id",
        delta.select("doc_id"), newPairs)
      val sizes = merged.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      merged.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_rep"))
    }),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", MaxHamming)),
    "dedup_embed_cos_pairs" -> ((s, dir) =>
      Dedup.cosinePairs(
        Embedder.hashTfEmbed(Tables.documents(s, dir), "doc_id", "text", Dim),
        "doc_id", "embedding", MinCos)),
    // The LSH-candidate scale path, oracle-gated next to the brute-force
    // verifier above: RpLsh's md5-derived planes make the candidate set
    // itself replayable in SQL, and the AND-composed grid buckets keep
    // candidate generation sub-quadratic even on this corpus's correlated
    // hashTF vectors (1-D slabs ran fat here; grid cells don't).
    "dedup_embed_cos_lsh" -> ((s, dir) =>
      Dedup.cosinePairsLsh(
        Embedder.hashTfEmbed(Tables.documents(s, dir), "doc_id", "text", Dim),
        "doc_id", "embedding", MinCos, Dim, CosBucketLen, CosTables, CosPlanes)),
    // SemDeDup: cluster-bounded embedding dedup — the third embedding-dedup
    // shape (cluster first, compare within clusters only). The whole
    // pipeline — seed centroids, argmin assignment, within-cluster pairs —
    // is deterministic arithmetic, so the oracle replays it end to end.
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semanticPairs(
        Embedder.hashTfEmbed(Tables.documents(s, dir), "doc_id", "text", Dim),
        "doc_id", "embedding", MinCos, SemLists)),
    // Dedup-quality metrology, hash-gated: recall of the banded MinHash+LSH
    // pairs against the exact prefix-filtered ground truth — the number
    // that justifies trusting the approximate path at scale (a band-layout
    // regression drops recall and turns this row red). Precision is pinned
    // too but is 1.0 BY CONSTRUCTION (every banding candidate is
    // exact-verified before emission, so lsh ⊆ exact) — the column is a
    // structural invariant of verify-then-emit, not a live gate. Shares the
    // cached shingle index with the two member queries. Zero-pair corpora
    // report 0 ratios (guarded — the engines disagree on x/0).
    // SimHash metrology twin of eval_dedup_lsh: recall/precision of the
    // Hamming-banded pair family against the exact-Jaccard ground truth —
    // the number that says what the 32-bit sketch buys and costs, pinned
    // with the same census shape so the two gates stay comparable.
    "eval_dedup_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = Dedup.jaccardJoin(docs, "doc_id", "text", N, MinJ)
        .select("a_id", "b_id")
      val sim = Dedup.simhashPairs(docs, "doc_id", "text", MaxHamming)
        .select("a_id", "b_id")
      val hit = sim.join(exact, Seq("a_id", "b_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(sim.agg(count(lit(1)).as("n_simhash")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_simhash"), col("n_hit"),
          when(col("n_exact") === 0, lit(0.0d))
            .otherwise(graft.functions.ExactRound.ratioRound6(
              col("n_hit"), 0, col("n_exact")))
            .as("recall"),
          when(col("n_simhash") === 0, lit(0.0d))
            .otherwise(graft.functions.ExactRound.ratioRound6(
              col("n_hit"), 0, col("n_simhash")))
            .as("precision"))
    }),
    "eval_dedup_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = Dedup.jaccardJoin(docs, "doc_id", "text", N, MinJ)
        .select("a_id", "b_id")
      val lsh = Dedup.minhashLshJoin(docs, "doc_id", "text", N, MinJ)
        .select("a_id", "b_id")
      val hit = lsh.join(exact, Seq("a_id", "b_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          when(col("n_exact") === 0, lit(0.0d))
            .otherwise(graft.functions.ExactRound.ratioRound6(
              col("n_hit"), 0, col("n_exact")))
            .as("recall"),
          when(col("n_lsh") === 0, lit(0.0d))
            .otherwise(graft.functions.ExactRound.ratioRound6(
              col("n_hit"), 0, col("n_lsh")))
            .as("precision"))
    }))

  // ---- DuckDB mirrors -----------------------------------------------------

  /** Min reachable id per node via recursive closure over the verified pair
    * list — the cluster ground truth BOTH connected-components
    * implementations (label propagation and star rewiring) must converge
    * to. */
  /** The recursive-closure cluster ground truth as reusable CTEs (ends in
    * cl(doc_id, cluster_id) + sz(cluster_id, cluster_size)) — shared by
    * the min-label gate, the star-CC parity gate, and the survivor-policy
    * gate. Callers prepend `WITH RECURSIVE `. */
  private lazy val clustersCtes: String =
    s"""$toksCte,
       |${DocSql.shingleHashCte(N)},
       |dfc AS (SELECT ghv, count(*) AS df FROM shd GROUP BY 1),
       |pf AS (SELECT doc_id, ghv FROM (
       |    SELECT g.doc_id, g.ghv,
       |      row_number() OVER (PARTITION BY g.doc_id ORDER BY dfc.df, g.ghv) AS r,
       |      count(*) OVER (PARTITION BY g.doc_id) AS m
       |    FROM shd g JOIN dfc USING (ghv))
       |  WHERE r <= m - ceil($MinJ * m) + 1),
       |cands AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pf a JOIN pf b ON a.ghv = b.ghv AND a.doc_id < b.doc_id),
       |$verifyCtes,
       |pairs AS (SELECT DISTINCT a_id, b_id FROM j WHERE jaccard >= $MinJ),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(id, x) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.x),
       |cl AS (SELECT id AS doc_id, min(x) AS cluster_id FROM reach GROUP BY 1),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)""".stripMargin

  private lazy val clustersSql: String =
    s"""WITH RECURSIVE $clustersCtes
       |SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
       |  cl.doc_id = cl.cluster_id AS is_rep
       |FROM cl JOIN sz USING (cluster_id)""".stripMargin

  /** Span-merge mirror shared with the selection pipeline —
    * [[DocSql.spanCtes]] at this module's window width. */
  private lazy val spanCtes: String = DocSql.spanCtes(SpanK)

  private val sigExpr = "[" + (0 until Dedup.NumHashes).map { j =>
    s"list_min(list_transform(ghs, x -> (${Dedup.hashA(j)}*x + ${Dedup.hashB(j)}) % ${Dedup.MinhashP}))"
  }.mkString(", ") + "]"

  private val Cap = Dedup.DefaultMaxBucket

  /** Mirror of Dedup.verifyByIntersect as reusable CTEs: per-doc hash lists
    * (gl) joined to the candidate set, overlap counted by list_intersect.
    * Expects CTEs `shd` (doc_id, ghv) and `cands` (a_id, b_id); ends in `j`
    * (a_id, b_id, shared, jaccard — unfiltered). */
  private val verifyCtes =
    s"""gl AS (SELECT doc_id, list(ghv) AS g, count(*) AS m FROM shd GROUP BY 1),
       |j AS (SELECT c.a_id, c.b_id,
       |    CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS shared,
       |    ${graft.functions.ExactRound.ratioRound6IntSql(
            "len(list_intersect(a.g, b.g))", 0,
            "a.m + b.m - len(list_intersect(a.g, b.g))")} AS jaccard
       |  FROM cands c JOIN gl a ON c.a_id = a.doc_id JOIN gl b ON c.b_id = b.doc_id)""".stripMargin

  private val intersectTail =
    s"""$verifyCtes
       |SELECT DISTINCT a_id, b_id, shared, jaccard FROM j WHERE jaccard >= $MinJ""".stripMargin

  private val simhashCte = DocSql.simhashCte

  /** Mirror of [[Dedup.simhashPairs]]'s pigeonhole banding: one SELECT per
    * band from [[Dedup.simhashBandLayout]] — the very same (offset, width)
    * values the Spark operator shifts by. */
  private val simhashBandsSql = Dedup.simhashBandLayout(MaxHamming)
    .map { case (k, off, w) =>
      s"SELECT doc_id, simhash, $k AS band, (simhash >> $off) & ${(1L << w) - 1L} AS bits FROM sh"
    }.mkString("\n  UNION ALL ")

  /** From-scratch replay of the delta-vs-corpus join: df and prefixes
    * over corpus ∪ delta, candidates restricted to (new, existing) pairs.
    * Shared by dedup_jaccard_incremental_indexed and the delete-aware
    * face — see the oracle map entries. `extraB`: optional
    * predicate appended to the candidate b (indexed) side, the oracle twin
    * of [[graft.operators.JaccardIndex.incrementalJoin]]'s `excludeIds` —
    * exclusion at candidate generation, exactly where the Spark side
    * anti-joins the stored prefix table. */
  private def incrementalSqlWith(extraB: String = "") =
    s"""WITH $toksCte,
       |${DocSql.shingleHashCte(N)},
       |dfc AS (SELECT ghv, count(*) AS df FROM shd GROUP BY 1),
       |pf AS (SELECT doc_id, ghv FROM (
       |    SELECT g.doc_id, g.ghv,
       |      row_number() OVER (PARTITION BY g.doc_id ORDER BY dfc.df, g.ghv) AS r,
       |      count(*) OVER (PARTITION BY g.doc_id) AS m
       |    FROM shd g JOIN dfc USING (ghv))
       |  WHERE r <= m - ceil($MinJ * m) + 1),
       |cands AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pf a JOIN pf b ON a.ghv = b.ghv
       |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0$extraB),
       |$intersectTail""".stripMargin
  private val incrementalSql = incrementalSqlWith()

  /** Single sources of truth for the two pair queries, reused verbatim as
    * the member legs of the eval_dedup_lsh metrology oracle. */
  /** Full dedup_simhash_pairs query — shared with the eval_dedup_simhash
    * metrology oracle the way jaccardPairsSql/minhashLshSql are. */
  private lazy val simhashPairsSql: String =
    s"""WITH $toksCte,
       |$simhashCte,
       |bu AS ($simhashBandsSql),
       |buc AS (SELECT * FROM bu
       |  QUALIFY count(*) OVER (PARTITION BY band, bits) <= $Cap)
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM buc a JOIN buc b ON a.band = b.band AND a.bits = b.bits
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming""".stripMargin

  private lazy val jaccardPairsSql: String =
    s"""WITH $toksCte,
       |${DocSql.shingleHashCte(N)},
       |dfc AS (SELECT ghv, count(*) AS df FROM shd GROUP BY 1),
       |pf AS (SELECT doc_id, ghv FROM (
       |    SELECT g.doc_id, g.ghv,
       |      row_number() OVER (PARTITION BY g.doc_id ORDER BY dfc.df, g.ghv) AS r,
       |      count(*) OVER (PARTITION BY g.doc_id) AS m
       |    FROM shd g JOIN dfc USING (ghv))
       |  WHERE r <= m - ceil($MinJ * m) + 1),
       |cands AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pf a JOIN pf b ON a.ghv = b.ghv AND a.doc_id < b.doc_id),
       |$intersectTail""".stripMargin

  private lazy val minhashLshSql: String =
    s"""WITH $toksCte,
       |${DocSql.shingleHashCte(N)},
       |sigs AS (SELECT doc_id, $sigExpr AS sig
       |  FROM (SELECT doc_id, list(ghv) AS ghs FROM shd GROUP BY doc_id)),
       |bk AS (SELECT doc_id, unnest(list_transform(generate_series(0, ${Dedup.LshBands - 1}),
       |    k -> {'band': k, 'bh': (sig[k*2+1]*31 + sig[k*2+2]) % ${Dedup.MinhashP}})) AS u
       |  FROM sigs),
       |buckets AS (SELECT doc_id, u.band AS band, u.bh AS bh FROM bk
       |  QUALIFY count(*) OVER (PARTITION BY u.band, u.bh) <= $Cap),
       |cands AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |$intersectTail""".stripMargin

  /** CDC chunk CTEs over an arbitrary doc predicate: ends in
    * chk(doc_id, chunk_idx, n_tokens, chunk_hash). */
  private[queries] def cdcChunkCtesWhere(pred: String): String = {
    val m = graft.operators.Cdc.DefaultModulus
    s"""tokd AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
       |  FROM documents WHERE $pred),
       |pgr AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
       |    i -> {'p': CAST(i AS BIGINT), 't': toks[i]})) AS s
       |  FROM tokd),
       |pos AS (SELECT doc_id, s.p AS pos, s.t AS tok,
       |    CASE WHEN ${tokenHashSql("s.t")} % $m = 0 THEN 1 ELSE 0 END AS brk
       |  FROM pgr),
       |cix AS (SELECT doc_id, pos, tok,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) - brk AS chunk_idx
       |  FROM pos),
       |chk AS (SELECT doc_id, chunk_idx, count(*) AS n_tokens,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
       |  FROM cix GROUP BY 1, 2)""".stripMargin
  }

  private val cdcChunkCtes: String = {
    val m = graft.operators.Cdc.DefaultModulus
    s"""$toksCte,
       |pgr AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
       |    i -> {'p': CAST(i AS BIGINT), 't': toks[i]})) AS s
       |  FROM tokd),
       |pos AS (SELECT doc_id, s.p AS pos, s.t AS tok,
       |    CASE WHEN ${tokenHashSql("s.t")} % $m = 0 THEN 1 ELSE 0 END AS brk
       |  FROM pgr),
       |cix AS (SELECT doc_id, pos, tok,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) - brk AS chunk_idx
       |  FROM pos),
       |chk AS (SELECT doc_id, chunk_idx, count(*) AS n_tokens,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
       |  FROM cix GROUP BY 1, 2)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dedup_edit_pairs" ->
      """WITH n AS (SELECT p_name, count(*) AS cnt FROM part GROUP BY 1)
        |SELECT a.p_name AS a_name, b.p_name AS b_name,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
        |  a.cnt * b.cnt AS n_row_pairs
        |FROM n a JOIN n b ON a.p_name < b.p_name
        | AND abs(len(a.p_name) - len(b.p_name)) <= 2
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2""".stripMargin,
    "dedup_containment_pairs" ->
      s"""WITH $toksCte,
         |${DocSql.shingleHashCte(N)},
         |dfc AS (SELECT ghv, count(*) AS df FROM shd GROUP BY 1),
         |cpf AS (SELECT doc_id, ghv FROM (
         |    SELECT g.doc_id, g.ghv,
         |      row_number() OVER (PARTITION BY g.doc_id ORDER BY dfc.df, g.ghv) AS r,
         |      count(*) OVER (PARTITION BY g.doc_id) AS m
         |    FROM shd g JOIN dfc USING (ghv))
         |  WHERE r <= m - ceil($MinC * m) + 1),
         |cands AS (SELECT DISTINCT least(p.doc_id, g.doc_id) AS a_id,
         |    greatest(p.doc_id, g.doc_id) AS b_id
         |  FROM cpf p JOIN shd g ON p.ghv = g.ghv AND p.doc_id <> g.doc_id),
         |gl AS (SELECT doc_id, list(ghv) AS g, count(*) AS m FROM shd GROUP BY 1),
         |cj AS (SELECT c.a_id, c.b_id,
         |    CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS shared,
         |    ${graft.functions.ExactRound.ratioRound6IntSql(
              "len(list_intersect(a.g, b.g))", 0, "least(a.m, b.m)")}
         |      AS containment
         |  FROM cands c JOIN gl a ON c.a_id = a.doc_id
         |  JOIN gl b ON c.b_id = b.doc_id)
         |SELECT DISTINCT a_id, b_id, shared, containment FROM cj
         |WHERE containment >= $MinC""".stripMargin,
    "pipeline_entity_resolution" ->
      s"""WITH RECURSIVE nm AS (SELECT p_name, count(*) AS cnt FROM part GROUP BY 1),
         |prs AS (SELECT a.p_name AS a_id, b.p_name AS b_id
         |  FROM nm a JOIN nm b ON a.p_name < b.p_name
         |    AND abs(len(a.p_name) - len(b.p_name)) <= 2
         |  WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2),
         |eredges AS (SELECT a_id AS src, b_id AS dst FROM prs
         |  UNION ALL SELECT b_id, a_id FROM prs),
         |erreach(id, x) AS (
         |  SELECT p_name, p_name FROM nm
         |  UNION
         |  SELECT r.id, e.dst FROM erreach r JOIN eredges e ON e.src = r.x),
         |ercl AS (SELECT id AS p_name, min(x) AS cluster_id FROM erreach GROUP BY 1),
         |errk AS (SELECT cl.p_name, cl.cluster_id, nm.cnt,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY nm.cnt DESC, cl.p_name) AS rn,
         |    count(*) OVER (PARTITION BY cl.cluster_id) AS csz
         |  FROM ercl cl JOIN nm USING (p_name))
         |SELECT (SELECT count(*) FROM nm) AS n_names,
         |  (SELECT count(*) FROM prs) AS n_pairs,
         |  (SELECT count(DISTINCT cluster_id) FROM ercl) AS n_clusters,
         |  (SELECT count(*) FROM errk WHERE rn > 1) AS n_absorbed,
         |  CAST((SELECT coalesce(sum(cnt), 0) FROM errk WHERE rn > 1) AS BIGINT)
         |    AS rows_affected,
         |  CAST((SELECT coalesce(sum(${tokenHashSql("p_name")}), 0)
         |    FROM errk WHERE rn = 1 AND csz > 1) AS BIGINT) AS survivor_checksum""".stripMargin,
    "dedup_winnow_census" ->
      s"""WITH $toksCte,
         |${DocSql.winnowCte(SpanK, WinnowW)},
         |ng AS (SELECT doc_id, count(*) AS n_grams FROM posg GROUP BY 1)
         |SELECT f.doc_id, ng.n_grams, count(*) AS n_fp,
         |  CAST(sum(fp_hash) AS BIGINT) AS fp_checksum,
         |  CAST(sum(fp_pos) AS BIGINT) AS pos_checksum
         |FROM wfp f JOIN ng USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""WITH $toksCte,
         |${DocSql.winnowCte(SpanK, WinnowW)},
         |fph AS (SELECT DISTINCT doc_id, fp_hash FROM wfp),
         |wkept AS (SELECT doc_id, fp_hash FROM (
         |    SELECT doc_id, fp_hash,
         |      count(*) OVER (PARTITION BY fp_hash) AS df FROM fph)
         |  WHERE df <= $WinnowMaxDf)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         |FROM wkept a JOIN wkept b
         |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared""".stripMargin,
    "dedup_cdc_index_build" ->
      s"""WITH ${cdcChunkCtesWhere("doc_id % 10 <> 0")}
         |SELECT count(DISTINCT chunk_hash) AS n_hashes,
         |  count(*) AS n_copies
         |FROM chk""".stripMargin,
    "dedup_cdc_index_append" ->
      s"""WITH ${cdcChunkCtesWhere("TRUE")}
         |SELECT count(DISTINCT chunk_hash) AS n_hashes,
         |  count(*) AS n_copies
         |FROM chk""".stripMargin,
    "dedup_cdc_index_compact" ->
      s"""WITH ${cdcChunkCtesWhere("TRUE")}
         |SELECT count(DISTINCT chunk_hash) AS n_hashes,
         |  count(*) AS n_copies,
         |  count(DISTINCT chunk_hash) AS n_rows
         |FROM chk""".stripMargin,
    // The deleted twin: the same probe replay with the known-chunk base
    // restricted to the LIVE corpus (odd non-delta ids) — exactly the
    // net-presence the decremented store serves.
    "dedup_cdc_deleted" ->
      s"""WITH ${cdcChunkCtesWhere("TRUE")},
         |base AS (SELECT DISTINCT chunk_hash FROM chk
         |  WHERE doc_id % 10 <> 0 AND doc_id % 2 <> 0),
         |d AS (SELECT * FROM chk WHERE doc_id % 10 = 0),
         |kn AS (SELECT d.doc_id, count(*) AS nk,
         |    CAST(sum(d.n_tokens) AS BIGINT) AS kt
         |  FROM d JOIN base USING (chunk_hash) GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_chunks,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY 1)
         |SELECT tot.doc_id, tot.n_chunks, tot.n_tokens,
         |  CAST(coalesce(kn.nk, 0) AS BIGINT) AS n_known_chunks,
         |  CAST(coalesce(kn.kt, 0) AS BIGINT) AS known_tokens
         |FROM tot LEFT JOIN kn USING (doc_id)""".stripMargin,
    "dedup_cdc_incremental" ->
      s"""WITH ${cdcChunkCtesWhere("TRUE")},
         |base AS (SELECT DISTINCT chunk_hash FROM chk WHERE doc_id % 10 <> 0),
         |d AS (SELECT * FROM chk WHERE doc_id % 10 = 0),
         |kn AS (SELECT d.doc_id, count(*) AS nk,
         |    CAST(sum(d.n_tokens) AS BIGINT) AS kt
         |  FROM d JOIN base USING (chunk_hash) GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_chunks,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY 1)
         |SELECT tot.doc_id, tot.n_chunks, tot.n_tokens,
         |  CAST(coalesce(kn.nk, 0) AS BIGINT) AS n_known_chunks,
         |  CAST(coalesce(kn.kt, 0) AS BIGINT) AS known_tokens
         |FROM tot LEFT JOIN kn USING (doc_id)""".stripMargin,
    "dedup_cdc_chunks" ->
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, count(*) AS n_chunks,
         |  md5(string_agg(chunk_hash, '' ORDER BY chunk_idx)) AS chunks_hash
         |FROM chk GROUP BY 1""".stripMargin,
    "dedup_cdc_stats" ->
      s"""WITH $cdcChunkCtes,
         |ph AS (SELECT chunk_hash, count(*) AS cnt, min(n_tokens) AS nt
         |  FROM chk GROUP BY 1)
         |SELECT CAST(sum(cnt) AS BIGINT) AS total_chunks,
         |  count(*) AS distinct_chunks,
         |  CAST(sum((cnt - 1) * nt) AS BIGINT) AS dup_tokens,
         |  CAST(sum(cnt * nt) AS BIGINT) AS total_tokens,
         |  ${graft.functions.ExactRound.roundDivSql(
              "sum((cnt - 1) * nt) * 1000000", "sum(cnt * nt)")} AS dedup_ratio_e6
         |FROM ph""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS content_hash,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM documents""".stripMargin,
    // ExactSubstr mirror: same rolling-hash windows WITH positions, same
    // >= 2 occurrence rule, same islands-and-gaps merge (break when start
    // gap > k), pinned as exact integer accounting per document.
    "dedup_span_stats" ->
      s"""WITH $toksCte,
         |${DocSql.gramPosCte(SpanK)},
         |$spanCtes,
         |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM sp GROUP BY 1)
         |SELECT d.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  coalesce(st.n_spans, 0) AS n_spans,
         |  coalesce(st.dup_tokens, 0) AS dup_tokens
         |FROM documents d JOIN tokd t USING (doc_id)
         |LEFT JOIN st USING (doc_id)""".stripMargin,
    "dedup_span_clean" ->
      s"""WITH $toksCte,
         |${DocSql.gramPosCte(SpanK)},
         |$spanCtes,
         |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM sp),
         |tp AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
         |    i -> {'p': CAST(i AS BIGINT), 't': toks[i]})) AS s FROM tokd),
         |tpos AS (SELECT doc_id, s.p AS pos, s.t AS tok FROM tp),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tpos t
         |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.pos IS NULL),
         |cl AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY 1)
         |SELECT d.doc_id, coalesce(cl.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN cl USING (doc_id)""".stripMargin,
    // Index totals recomputed from scratch over the non-delta corpus.
    "dedup_span_index_build" ->
      s"""WITH $toksCte,
         |${DocSql.gramPosCte(SpanK)},
         |cor AS (SELECT * FROM posg WHERE doc_id % 10 <> 0)
         |SELECT count(DISTINCT ghv) AS n_hashes,
         |  count(*) AS n_windows FROM cor""".stripMargin,
    // Base + appended delta recounted as ONE from-scratch census of the
    // FULL corpus's windows.
    "dedup_span_index_append" ->
      s"""WITH $toksCte,
         |${DocSql.gramPosCte(SpanK)}
         |SELECT count(DISTINCT ghv) AS n_hashes,
         |  count(*) AS n_windows FROM posg""".stripMargin,
    "dedup_span_index_compact" ->
      s"""WITH $toksCte,
         |${DocSql.gramPosCte(SpanK)}
         |SELECT count(DISTINCT ghv) AS n_rows,
         |  count(DISTINCT ghv) AS n_hashes,
         |  count(*) AS n_windows FROM posg""".stripMargin,
    // The one-shot batch marking over the FULL corpus, restricted to the
    // delta documents — provably equal to the index-probe path's
    // corpus ≥ 1 ∨ delta ≥ 2 rule.
    "dedup_span_incremental" ->
      s"""WITH $toksCte,
         |${DocSql.gramPosCte(SpanK)},
         |delpos AS (SELECT doc_id, pos, ghv FROM posg WHERE doc_id % 10 = 0),
         |${DocSql.spanCtes(SpanK, "delpos", "posg")},
         |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM sp GROUP BY 1)
         |SELECT d.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  coalesce(st.n_spans, 0) AS n_spans,
         |  coalesce(st.dup_tokens, 0) AS dup_tokens
         |FROM documents d JOIN tokd t USING (doc_id)
         |LEFT JOIN st USING (doc_id)
         |WHERE d.doc_id % 10 = 0""".stripMargin,
    // The deleted twin: the same one-shot marking with the duplicate pool
    // restricted to delta ∪ live corpus (delta ids OR odd non-delta ids) —
    // exactly the net-presence the decremented store serves.
    "dedup_span_deleted" ->
      s"""WITH $toksCte,
         |${DocSql.gramPosCte(SpanK)},
         |delpos AS (SELECT doc_id, pos, ghv FROM posg WHERE doc_id % 10 = 0),
         |livpos AS (SELECT doc_id, pos, ghv FROM posg
         |  WHERE doc_id % 10 = 0 OR doc_id % 2 <> 0),
         |${DocSql.spanCtes(SpanK, "delpos", "livpos")},
         |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM sp GROUP BY 1)
         |SELECT d.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  coalesce(st.n_spans, 0) AS n_spans,
         |  coalesce(st.dup_tokens, 0) AS dup_tokens
         |FROM documents d JOIN tokd t USING (doc_id)
         |LEFT JOIN st USING (doc_id)
         |WHERE d.doc_id % 10 = 0""".stripMargin,
    // Prefix filtering mirrored 1:1: rank each doc's shingles by (global df,
    // hash), keep rank ≤ m − ceil(J·m) + 1, candidates from the prefix join,
    // exact shared counts restricted to candidates.
    "dedup_jaccard_pairs" -> jaccardPairsSql,
    // LSH-vs-exact metrology: both member queries' full SQL as derived
    // tables (each keeps its own WITH scope), then plain count arithmetic.
    "eval_dedup_lsh" ->
      s"""WITH ex AS (SELECT a_id, b_id FROM ($jaccardPairsSql)),
         |ls AS (SELECT a_id, b_id FROM ($minhashLshSql)),
         |ns AS (SELECT
         |    CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
         |    CAST((SELECT count(*) FROM ls) AS BIGINT) AS n_lsh,
         |    CAST((SELECT count(*) FROM ls JOIN ex USING (a_id, b_id)) AS BIGINT) AS n_hit)
         |SELECT n_exact, n_lsh, n_hit,
         |  CASE WHEN n_exact = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE ${graft.functions.ExactRound.ratioRound6IntSql("n_hit", 0, "n_exact")} END AS recall,
         |  CASE WHEN n_lsh = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE ${graft.functions.ExactRound.ratioRound6IntSql("n_hit", 0, "n_lsh")} END AS precision
         |FROM ns""".stripMargin,
    // The indexed path answers IDENTICALLY to a from-scratch prefix join
    // over corpus ∪ delta (lossless candidates under any consistent gram
    // order + exact verification), so the oracle replays that join with
    // candidates kept to (new, existing) orientations — the strongest pin
    // that moving the index to storage changed nothing. The length-ratio
    // prune the Spark side applies is lossless (pruned pairs cannot reach
    // MinJ), so the oracle may omit it — verification removes them
    // identically.
    "dedup_jaccard_incremental_indexed" -> incrementalSql,
    // The delete-aware face: the same replay with tombstoned docs excluded
    // from the candidate b side — exactly where the Spark side's prefix
    // anti-join drops them.
    "dedup_jaccard_deleted" -> incrementalSqlWith(" AND NOT (b.doc_id % 2 = 0)"),
    // From-scratch recount of the persisted index's shape: corpus-only df
    // ranks, prefix rule r ≤ m − ceil(J·m) + 1 — the same constants the
    // builder interpolates.
    "dedup_jaccard_index_build" ->
      s"""WITH $toksCte,
         |${DocSql.shingleHashCte(N)},
         |co AS (SELECT doc_id, ghv FROM shd WHERE doc_id % 10 <> 0),
         |dfc AS (SELECT ghv, count(*) AS df FROM co GROUP BY 1),
         |pf AS (SELECT doc_id, ghv FROM (
         |    SELECT g.doc_id, g.ghv,
         |      row_number() OVER (PARTITION BY g.doc_id ORDER BY dfc.df, g.ghv) AS r,
         |      count(*) OVER (PARTITION BY g.doc_id) AS m
         |    FROM co g JOIN dfc USING (ghv))
         |  WHERE r <= m - ceil($MinJ * m) + 1)
         |SELECT count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_prefix_entries FROM pf""".stripMargin,
    // Min reachable id per node via recursive closure over the verified
    // pair list — the fixpoint the Spark label propagation converges to.
    // The star-rewiring implementation answers to the same ground truth.
    "dedup_clusters" -> clustersSql,
    "eval_split_leakage_naive" ->
      s"""WITH RECURSIVE $clustersCtes,
         |asn AS (SELECT d.doc_id, ${splitAssignSql("d.doc_id")} AS split
         |  FROM documents d),
         |$crossPairsCpCte
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
         |  cp.n_cross_pairs
         |FROM asn CROSS JOIN cp GROUP BY split, cp.n_cross_pairs""".stripMargin,
    // Contamination grams at ContamN reuse the shared shingle-hash CTE
    // with renamed CTE heads (clustersCtes already binds shd at width N).
    "pipeline_eval_set" -> {
      val contamCte = DocSql.shingleHashCte(CleanQueries.ContamN)
        .replace("shd", "cshd")
      s"""WITH RECURSIVE $clustersCtes,
         |$contamCte,
         |bench AS (SELECT DISTINCT ghv FROM cshd WHERE doc_id <= ${CleanQueries.BenchMaxId}),
         |cont AS (SELECT DISTINCT cshd.doc_id FROM cshd JOIN bench USING (ghv)
         |  WHERE cshd.doc_id > ${CleanQueries.BenchMaxId}),
         |pool AS (SELECT doc_id FROM documents WHERE doc_id > ${CleanQueries.BenchMaxId}),
         |cln AS (SELECT pool.doc_id FROM pool LEFT JOIN cont USING (doc_id)
         |  WHERE cont.doc_id IS NULL),
         |asn AS (SELECT cl.doc_id, ${splitAssignSql("cl.cluster_id")} AS split
         |  FROM cl JOIN cln USING (doc_id)),
         |$crossPairsCpCte
         |SELECT (SELECT count(*) FROM pool) AS n_pool,
         |  (SELECT count(*) FROM cont) AS n_contaminated,
         |  CAST(coalesce(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_train,
         |  CAST(coalesce(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_test,
         |  CAST(coalesce(sum(CASE WHEN split = 'train' THEN doc_id END), 0) AS BIGINT) AS train_checksum,
         |  CAST(coalesce(sum(CASE WHEN split = 'test' THEN doc_id END), 0) AS BIGINT) AS test_checksum,
         |  (SELECT n_cross_pairs FROM cp) AS n_cross_pairs
         |FROM asn""".stripMargin
    },
    "sample_split_dedup_aware" ->
      s"""WITH RECURSIVE $clustersCtes,
         |asn AS (SELECT cl.doc_id, cl.cluster_id, ${splitAssignSql("cl.cluster_id")} AS split
         |  FROM cl),
         |$crossPairsCpCte
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT cluster_id) AS n_clusters,
         |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
         |  cp.n_cross_pairs
         |FROM asn CROSS JOIN cp GROUP BY split, cp.n_cross_pairs""".stripMargin,
    // The incremental merge must equal the one-shot clustering exactly —
    // same oracle as the batch clustering.
    "dedup_clusters_incremental" -> clustersSql,
    // Survivor policy over the same ground-truth clusters: keep the LONGEST
    // member (ties → lowest id), not the smallest id — argmax replayed by a
    // per-cluster window over the closure.
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $clustersCtes,
         |r AS (SELECT cl.cluster_id, cl.doc_id,
         |    CAST(len(t.toks) AS BIGINT) AS nt,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY len(t.toks) DESC, cl.doc_id) AS rn
         |  FROM cl JOIN tokd t ON cl.doc_id = t.doc_id)
         |SELECT r.cluster_id, sz.cluster_size,
         |  r.doc_id AS rep_id, r.nt AS rep_tokens
         |FROM r JOIN sz USING (cluster_id)
         |WHERE r.rn = 1""".stripMargin,
    // Four families replayed into one row: tokens/lang/Gopher per doc
    // (n_stop IS en_hits — Gopher's function-word floor counts the same
    // en stopword hits the lang predictor does), cluster sizes from the
    // recursive closure.
    "report_dataset_card" -> {
      val g = graft.functions.CleanFunctions.Gopher
      s"""WITH RECURSIVE $clustersCtes,
         |hm AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS nt,
         |    CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS BIGINT) AS nch,
         |    CAST(len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+'))) AS BIGINT) AS nal,
         |    ${DocSql.langHitColsSql}
         |  FROM tokd),
         |pd AS (SELECT doc_id, nt,
         |    ${DocSql.langPredSql} AS lang_pred,
         |    (nt >= ${g.MinToks} AND nt <= ${g.MaxToks}
         |     AND nch >= nt * 3 AND nch <= nt * 10
         |     AND nal * 5 >= nt * 4 AND en_hits >= 2) AS keep
         |  FROM hm),
         |core AS (SELECT count(*) AS n_docs,
         |    CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT lang_pred) AS BIGINT) AS n_langs,
         |    CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_gopher_pass
         |  FROM pd),
         |tl AS (SELECT lang_pred AS top_lang, CAST(count(*) AS BIGINT) AS top_lang_docs
         |  FROM pd GROUP BY 1 ORDER BY count(*) DESC, lang_pred LIMIT 1),
         |dup AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dup_clusters,
         |    CAST(coalesce(sum(CASE WHEN cluster_size > 1 THEN cluster_size ELSE 0 END), 0) AS BIGINT) AS n_near_dup_docs
         |  FROM sz)
         |SELECT core.n_docs, core.n_tokens, core.n_langs, core.n_gopher_pass,
         |  tl.top_lang, tl.top_lang_docs, dup.n_dup_clusters, dup.n_near_dup_docs
         |FROM core, tl, dup""".stripMargin
    },
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_simhash" ->
      s"""WITH $toksCte,
         |$simhashCte
         |SELECT doc_id, simhash FROM sh""".stripMargin,
    // Structural mirror of the banded plan (not the brute-force form): the
    // pigeonhole rewrite is lossless, so this equals all-pairs hamming while
    // no bucket exceeds the cap — and if one ever does, both engines drop it.
    "dedup_simhash_pairs" -> simhashPairsSql,
    "eval_dedup_simhash" ->
      s"""WITH ex AS (SELECT a_id, b_id FROM ($jaccardPairsSql)),
         |sm AS (SELECT a_id, b_id FROM ($simhashPairsSql)),
         |ns AS (SELECT
         |    CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
         |    CAST((SELECT count(*) FROM sm) AS BIGINT) AS n_simhash,
         |    CAST((SELECT count(*) FROM sm JOIN ex USING (a_id, b_id)) AS BIGINT) AS n_hit)
         |SELECT n_exact, n_simhash, n_hit,
         |  CASE WHEN n_exact = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE ${graft.functions.ExactRound.ratioRound6IntSql("n_hit", 0, "n_exact")} END AS recall,
         |  CASE WHEN n_simhash = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE ${graft.functions.ExactRound.ratioRound6IntSql("n_hit", 0, "n_simhash")} END AS precision
         |FROM ns""".stripMargin,
    "dedup_embed_cos_pairs" ->
      s"""WITH $toksCte,
         |${DocSql.embedCte(Dim)}
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim
         |FROM nv a JOIN nv b ON a.doc_id < b.doc_id
         |WHERE round(list_cosine_similarity(a.vec, b.vec), 6) >= $MinCos""".stripMargin,
    "dedup_embed_cos_lsh" ->
      s"""WITH $toksCte,
         |${DocSql.embedCte(Dim)},
         |bk AS (${graft.operators.RpLsh.bucketsSql("nv", "doc_id", "vec", Dim, CosBucketLen, CosTables, CosPlanes)}),
         |bkc AS (SELECT * FROM bk
         |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= $Cap),
         |cands AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bkc a JOIN bkc b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         |SELECT DISTINCT c.a_id, c.b_id,
         |  round(list_cosine_similarity(va.vec, vb.vec), 6) AS cos_sim
         |FROM cands c JOIN nv va ON va.doc_id = c.a_id
         |  JOIN nv vb ON vb.doc_id = c.b_id
         |WHERE round(list_cosine_similarity(va.vec, vb.vec), 6) >= $MinCos""".stripMargin,
    // Seed centroids (lowest-id vectors) → argmin assignment (ties to the
    // lowest list_id, the same struct order IvfIndex.assign sorts on) →
    // within-cluster pairs, cluster cap mirrored by the QUALIFY.
    "dedup_semantic" ->
      s"""WITH $toksCte,
         |${DocSql.embedCte(Dim)},
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY doc_id) AS INT) - 1 AS list_id,
         |    vec AS centroid
         |  FROM (SELECT doc_id, vec FROM nv ORDER BY doc_id LIMIT $SemLists)),
         |asg AS (SELECT doc_id, vec, list_id FROM (
         |    SELECT nv.doc_id, nv.vec, cent.list_id,
         |      row_number() OVER (PARTITION BY nv.doc_id
         |        ORDER BY 1.0 - list_cosine_similarity(nv.vec, cent.centroid), cent.list_id) AS pick
         |    FROM nv CROSS JOIN cent) WHERE pick = 1),
         |asgc AS (SELECT * FROM asg
         |  QUALIFY count(*) OVER (PARTITION BY list_id) <= $Cap)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.list_id,
         |  round(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim
         |FROM asgc a JOIN asgc b ON a.list_id = b.list_id AND a.doc_id < b.doc_id
         |WHERE round(list_cosine_similarity(a.vec, b.vec), 6) >= $MinCos""".stripMargin)
}
