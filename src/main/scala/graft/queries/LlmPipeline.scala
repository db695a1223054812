package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ext.{Curation, Dedup, LmScore, Multimodal, Retrieval, Sampling, Similarity, TextOps, TextStats}

/** LLM-training-data pipeline query surface (the BASELINE north star):
  * deduplication, similarity search, text analysis, multimodal columns —
  * over the `documents` / `embeddings` fixture tables, each with a DuckDB
  * oracle where the semantics are SQL-expressible (rows-only otherwise).
  *
  * The fixture's pair-similarity distribution is bimodal (planted
  * near-dups at Jaccard >= 0.9 / Hamming <= 7; background <= 0.3 / >= 15),
  * so the LSH candidate generation + exact verification in
  * [[graft.ext.Dedup]] provably matches the oracle's exact all-pairs
  * answer — see the band math in that file.
  */
object LlmPipeline {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** Lossless CSV round-trip options: RFC-4180 quoting (escape = quote),
    * an explicit nullValue sentinel so NULL and "" stay distinct (the
    * writer emits NULL as \N unquoted and "" as a quoted empty), and NO
    * whitespace trimming (the writer's default ignoreLeading/Trailing
    * silently eats edge whitespace). Reader side additionally needs
    * `multiLine=true` for embedded newlines. Proven on hostile content
    * in FormatRoundtripSpec. */
  val LosslessCsvOptions: Map[String, String] = Map(
    "header" -> "true", "escape" -> "\"", "nullValue" -> "\\N",
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  /** The spooled ACID table the CHANGE-DATA-FEED and incremental-
    * aggregate gates share (its history is the fixture): v0 = docs >= 20,
    * v1 appends 10..19, v2 merges (update 10..14 to n = -1, insert 5
    * shifted keys at -2). */
  private def cdfBuild(s: SparkSession, dir: String): String = {
    val d = Spool.dir("graft-acidcdf") + "/t"
    val ds = docs(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
    graft.land.AtomicLanding.commit(ds.filter(col("doc_id") >= 20), d)
    graft.land.AtomicLanding.commit(
      ds.filter(col("doc_id") >= 10 && col("doc_id") < 20), d,
      append = true)
    val upd = ds.filter(col("doc_id") >= 10 && col("doc_id") < 15)
      .select(col("doc_id"), lit(-1L).as("n"))
      .unionByName(ds.filter(col("doc_id") < 5)
        .select((col("doc_id") + 30000).as("doc_id"), lit(-2L).as("n")))
    graft.land.AtomicLanding.merge(upd, d, "doc_id")
    d
  }

  /** Drain `data` through a file-source micro-batch stream into `sink` —
    * the shared scaffold of the six `q_stream_*_ingest` gates: spool as
    * `nFiles` parquet files under `root/in`, read them back one file per
    * trigger (so the drain is exactly `nFiles` identified micro-batches
    * with engine ids 0..nFiles-1), run each batch through `sink` with
    * its batch id, and block until AvailableNow drains. The stream
    * schema is the SPOOLED file's (nullability as parquet recorded it —
    * what a real file-source topology would see), shuffle partitions
    * drop to 4 inside the drain (micro-batches are file-sized), and the
    * previous setting restores even when `start()` itself throws. */
  private[queries] def drainStream(s: SparkSession, root: String, data: DataFrame,
      sink: (DataFrame, Long) => Unit, nFiles: Int = 3): Unit = {
    data.repartition(nFiles).write.mode("overwrite").parquet(s"$root/in")
    val src = s.readStream.schema(s.read.parquet(s"$root/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = src.writeStream
        .foreachBatch((df: DataFrame, b: Long) => { sink(df, b); () })
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The funnel rows' shared test corpus: docs + id-shifted copies of
    * the first 50 (so the exact-dedup stage has real work). */
  private def dupedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  /** The verified near-dup pair graph at threshold 0.6, spooled to
    * parquet per corpus tag: the LSH detection runs once and the
    * curation rows measure their POLICIES over it. Soundness of reuse:
    * Curation.pairGraph restricts to the stage corpus, valid because the
    * spooled corpus is a superset. */
  private def pairsFor(s: SparkSession, dir: String, tag: String,
      corpus: DataFrame): graft.ext.Curation.PairSet = {
    val p = Spool.once(s"pairs#$dir#$tag") {
      val d = Spool.dir("graft-pairs") + "/pairs"
      Dedup.minhashNearDupPairs(corpus, threshold = 0.6)
        .select(col("doc_a"), col("doc_b")).write.parquet(d)
      d
    }
    // the PairSet carries the verification threshold so a consumer
    // asking for a different one fails loudly (Curation.pairGraph)
    graft.ext.Curation.PairSet(s.read.parquet(p), threshold = 0.6)
  }

  /** The duplicate-span set (n = 5), spooled to parquet (a cached
    * DataFrame would pin localCheckpoint blocks to one SparkContext):
    * q_scrub_spans APPLIES spans the pipeline already detected
    * (q_dup_spans measures detection itself each time), so the pair runs
    * the gram explode once per suite pass, not twice. */
  private def spansFor(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val p = Spool.once(s"spans#$dir") {
      val d = Spool.dir("graft-spans") + "/spans"
      Dedup.duplicateSpans(docs(s, dir), n = 5).write.parquet(d)
      d
    }
    s.read.parquet(p)
  }

  /** Fixed q_bpe_trained training budget: enough merges to form real
    * multi-char subwords on the fixture corpus, dictionary bound far
    * above the fixture vocab (the bound is the 100 TB driver-state cap,
    * not a fixture tuning knob). */
  private val TrainedNMerges = 64
  private val TrainedMaxWords = 20000

  /** The spooled TRAINED merges table, and the one last handed out, so
    * the Verify-time oracle dump (which runs AFTER all queries — see
    * [[graft.Verify]]) can replay the learned merge list through the same
    * recursive-CTE oracle as the standard table. */
  @volatile private var trainedLast: Option[graft.ext.BpeTable] = None
  private def trainedTableFor(s: SparkSession, dir: String): graft.ext.BpeTable = {
    val t = Spool.once(s"bpeTrained#$dir")(
      graft.ext.Bpe.train(docs(s, dir), col("text"), TrainedNMerges, TrainedMaxWords))
    trainedLast = Some(t)
    t
  }

  val queries: Map[String, Q] = Map(

    // ---- exact dedup: hash-groupBy, one shuffle, no pairs. The fixture
    // has no exact dups, so the query derives a duplicated corpus (union
    // with id-shifted copies) and collapses it back. ----
    "q_dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      d.unionAll(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))
        .orderBy(col("canonical_id"))
    }),

    // ---- MinHash-LSH near-dup pairs, exact-Jaccard verified ----
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(docs(s, dir), threshold = 0.6)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ---- SimHash near-dup pairs (pigeonhole bands, guaranteed recall) ----
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 7)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ---- direct n-gram Jaccard via the inverted-index join (provable
    // recall; same answer as the MinHash path — and the same exact
    // oracle). Scoped to a bounded corpus slice: this fixture's tiny
    // vocabulary makes every shingle a hot "stop shingle", so the
    // index join's per-shingle square is the dominant cost — MinHash is
    // the full-corpus path; this is the provable-recall strategy ----
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
          docs(s, dir).filter(col("doc_id") < 1000), threshold = 0.6)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ---- ANALYZE-style table profile: per-column stats in one
    // aggregation job (single scan, one Expand for the exact distinct
    // counts). All documents columns are bigint/varchar, whose string
    // casts agree cross-engine (float formatting would not) ----
    "q_profile" -> ((s, dir) =>
      graft.operators.Profiler.profile(docs(s, dir))
        .orderBy(col("column_name"))),

    // ---- incremental dedup: a new batch (doc_id >= 250) checked
    // against the curated corpus (doc_id < 250) — corpus-band ⋈
    // batch-band candidates, no corpus self-join; cost scales with the
    // batch ----
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashNearDupPairsAgainst(
          d.filter(col("doc_id") < 250), d.filter(col("doc_id") >= 250),
          threshold = 0.6)
        .orderBy(col("corpus_id"), col("new_id"))
    }),

    // ---- per-doc text statistics. OUTPUT-BOUND CONTRACT: the profile
    // itself is one map-side byte scan (q_lang_id, which aggregates it,
    // runs at the scan floor at 100x), so this row's scale residual is
    // entirely the global ORDER BY + corpus-sized result materialization
    // the gate requires for a stable hash. Production pipelines should
    // aggregate the profile or write it UNSORTED (partition-local order):
    // ScaleBench times that contract as q_text_stats_unsorted ----
    "q_text_stats" -> ((s, dir) =>
      TextStats.stats(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- benchmark decontamination: corpus docs sharing >= 10 distinct
    // 3-gram shingles with the "eval set" (doc_id < 10); fixture p99
    // background overlap is 2, planted near-dups ~80, so the threshold
    // cleanly separates contamination from chance collisions ----
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ext.Decontaminate.overlaps(
          d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10),
          minShared = 10)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // ---- ACID landing under the driver's value gate: commit the corpus
    // as snapshot v0, append the even-doc half as v1, then read BOTH
    // versions back through the manifest pointer — time travel, append
    // isolation, and the read path all gated on exact counts the oracle
    // re-derives from the raw table ----
    "q_acid_timetravel" -> ((s, dir) => {
      val tbl = Spool.once(s"acid#$dir") {
        val d = Spool.dir("graft-acid") + "/t"
        val ds = docs(s, dir).select(col("doc_id"), col("source"))
        graft.land.AtomicLanding.commit(ds, d)
        graft.land.AtomicLanding.commit(ds.filter(col("doc_id") % 2 === 0), d,
          append = true)
        d
      }
      val v0 = graft.land.AtomicLanding.readVersion(s, tbl, 0L)
        .groupBy(lit(0L).as("version")).agg(count(lit(1)).as("n_rows"))
      val v1 = graft.land.AtomicLanding.readVersion(s, tbl, 1L)
        .groupBy(lit(1L).as("version")).agg(count(lit(1)).as("n_rows"))
      v0.unionByName(v1).orderBy(col("version"))
    }),

    // ---- the ACID MERGE (upsert) under the gate: keyed updates rewrite
    // matched rows, fresh keys append, untouched rows survive — one
    // snapshot rewrite behind the pointer swing (read-while-write safe,
    // expectedVersion guards lost concurrent commits). The oracle
    // derives the exact post-merge state from the raw table ----
    "q_acid_merge" -> ((s, dir) => {
      val tbl = Spool.once(s"merge#$dir") {
        val d = Spool.dir("graft-acidmerge") + "/t"
        val base = docs(s, dir)
          .select(col("doc_id"), col("source"), length(col("text")).as("n"))
        graft.land.AtomicLanding.commit(base, d)
        val upd = base.filter(col("doc_id") < 100)
          .select(col("doc_id"), col("source"), lit(-1).as("n"))
          .unionByName(base.filter(col("doc_id") < 50)
            .select((col("doc_id") + 20000).as("doc_id"), col("source"),
              lit(-2).as("n")))
        graft.land.AtomicLanding.merge(upd, d, "doc_id")
        d
      }
      graft.land.AtomicLanding.read(s, tbl)
        .select(col("doc_id"), col("n"))
        .orderBy(col("doc_id"))
    }),

    // ---- file-level (pruned) MERGE under the gate: the table is built
    // as four range-clustered dirs; the same update set as q_acid_merge
    // (ids < 100 rewritten, fresh +20000 keys inserted) must rewrite
    // ONLY the first range dir — the three untouched dirs carry through
    // the manifest — while producing bit-identical rows to the plain
    // snapshot-rewrite merge. n_live_dirs is column-gated at 4
    // (3 carried + 1 rewrite): a silent fallback to full rewrite (1 dir)
    // or a missed fold hash-fails ----
    "q_acid_merge_pruned" -> ((s, dir) => {
      val tbl = Spool.once(s"mergePruned#$dir") {
        val d = Spool.dir("graft-acidmergep") + "/t"
        val base = docs(s, dir)
          .select(col("doc_id"), col("source"), length(col("text")).as("n"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") < 125), d)
        Seq((125, 250), (250, 375), (375, Int.MaxValue)).foreach { case (lo, hi) =>
          graft.land.AtomicLanding.commit(
            base.filter(col("doc_id") >= lo && col("doc_id") < hi),
            d, append = true)
        }
        val upd = base.filter(col("doc_id") < 100)
          .select(col("doc_id"), col("source"), lit(-1).as("n"))
          .unionByName(base.filter(col("doc_id") < 50)
            .select((col("doc_id") + 20000).as("doc_id"), col("source"),
              lit(-2).as("n")))
        graft.land.AtomicLanding.mergePruned(upd, d, "doc_id")
        d
      }
      graft.land.AtomicLanding.read(s, tbl)
        .select(col("doc_id"), col("n"))
        .withColumn("n_live_dirs",
          lit(graft.land.AtomicLanding.liveDirCount(tbl).toLong))
        .orderBy(col("doc_id"))
    }),

    // ---- row-level DELETE with file pruning under the gate — the
    // right-to-be-forgotten primitive (land/AtomicLanding.deletePruned):
    // a range-clustered table loses the odd keys of ONE segment; only
    // that segment's dir rewrites (manifest-first range planning), the
    // other three carry verbatim, and the live-dir count is
    // column-gated so an unpruned table-wide rewrite (1 dir) or a
    // skipped delete hash-fails alongside the surviving rows ----
    "q_acid_delete_pruned" -> ((s, dir) => {
      val tbl = Spool.once(s"deletePruned#$dir") {
        val d = Spool.dir("graft-aciddelp") + "/t"
        val base = docs(s, dir)
          .select(col("doc_id"), col("source"), length(col("text")).as("n"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") < 125), d,
          statsKeys = Seq("doc_id"))
        Seq((125, 250), (250, 375), (375, Int.MaxValue)).foreach { case (lo, hi) =>
          graft.land.AtomicLanding.commit(
            base.filter(col("doc_id") >= lo && col("doc_id") < hi),
            d, append = true)
        }
        graft.land.AtomicLanding.deletePruned(
          base.filter(col("doc_id") >= 125 && col("doc_id") < 250 &&
              col("doc_id") % 2 === 1)
            .select(col("doc_id")),
          d, "doc_id")
        d
      }
      graft.land.AtomicLanding.read(s, tbl)
        .select(col("doc_id"), col("n"))
        .withColumn("n_live_dirs",
          lit(graft.land.AtomicLanding.liveDirCount(tbl).toLong))
        .orderBy(col("doc_id"))
    }),

    // ---- SHALLOW CLONE under the gate (land/AtomicLanding
    // .cloneShallow): a zero-copy O(metadata) clone of a two-segment
    // table diverges by a pruned delete — the clone loses its victims
    // while the SOURCE's row count (column-gated as n_src_rows) stays
    // whole, so a clone that copied nothing yet shared mutable state
    // with its source hash-fails either way ----
    "q_acid_clone" -> ((s, dir) => {
      val (src, cln) = Spool.once(s"clone#$dir") {
        val root = Spool.dir("graft-acidclone")
        val sT = s"$root/src"; val cT = s"$root/clone"
        val base = docs(s, dir)
          .select(col("doc_id"), col("source"), length(col("text")).as("n"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") < 250),
          sT, statsKeys = Seq("doc_id"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") >= 250),
          sT, append = true)
        graft.land.AtomicLanding.cloneShallow(sT, cT)
        graft.land.AtomicLanding.deletePruned(
          base.filter(col("doc_id") < 250 && col("doc_id") % 2 === 1)
            .select(col("doc_id")),
          cT, "doc_id")
        (sT, cT)
      }
      graft.land.AtomicLanding.read(s, cln)
        .select(col("doc_id"), col("n"))
        .withColumn("n_src_rows",
          lit(graft.land.AtomicLanding.read(s, src).count()))
        .orderBy(col("doc_id"))
    }),

    // ---- MULTI-TABLE transactional ingest under the gate
    // (app/TransactionalIngest): three batches land data + catalog
    // run-record in one linked-root swing each; the result re-derives
    // per-run row counts from the SNAPSHOT pair (landing grouped by
    // batch class, joined to the catalog's run records), so a publish
    // that tore the pair — data without its record or vice versa —
    // loses the join row and hash-fails ----
    "q_txn_ingest" -> ((s, dir) => {
      val root = Spool.once(s"txnRoot#$dir") {
        val r = Spool.dir("graft-txnroot") + "/root"
        val base = docs(s, dir).select(col("doc_id"), col("source"))
        (0 to 2).foreach { i =>
          graft.app.TransactionalIngest.ingest(s, r,
            base.filter(col("doc_id") % 3 === i),
            graft.model.CatalogEntry(
              execId = s"e$i", srcSysId = 1, assetId = 100 + i,
              dqValidation = graft.model.CatalogEntry.StatusNotStarted,
              dataPublish = graft.model.CatalogEntry.StatusNotStarted,
              dataMasking = graft.model.CatalogEntry.StatusNotStarted,
              srcFilePath = s"raw/e$i", s3LogPath = s"logs/e$i",
              procStartTs = new java.sql.Timestamp(1700000000000L),
              createdTs = new java.sql.Timestamp(1700000000000L),
              lastExtTime = None),
            batchId = Some(i.toLong))
        }
        r
      }
      val (land, cat) = graft.app.TransactionalIngest.snapshot(s, root).get
      land.groupBy((col("doc_id") % 3).as("m"))
        .agg(count(lit(1)).as("n_rows"))
        .select(concat(lit("e"), col("m")).as("exec_id"), col("n_rows"))
        .join(cat.select(col("execId").as("exec_id"),
          col("assetId").as("asset_id")), "exec_id")
        .select(col("exec_id"), col("asset_id"), col("n_rows"))
        .orderBy(col("exec_id"))
    }),

    // ---- retention-window vacuum under the gate (vacuum
    // retainVersions): a 4-version lineage (3 mod-class appends + a
    // compaction) vacuumed with a 2-version window must still
    // time-travel v1..v3 with exact per-version counts while v0 is
    // reclaimed — a vacuum that kept nothing, kept everything, or
    // dropped live rows hash-fails ----
    "q_acid_retention" -> ((s, dir) => {
      val tbl = Spool.once(s"retention#$dir") {
        val d = Spool.dir("graft-acidretain") + "/t"
        val base = docs(s, dir).select(col("doc_id"), col("source"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") % 4 === 0), d)
        (1 to 2).foreach(i => graft.land.AtomicLanding.commit(
          base.filter(col("doc_id") % 4 === i), d, append = true))
        graft.land.AtomicLanding.compact(s, d, numFiles = 1)
        graft.land.AtomicLanding.vacuum(d, retainVersions = 2)
        d
      }
      val counts = (1L to 3L).map(v =>
        graft.land.AtomicLanding.readVersion(s, tbl, v).count())
      val v0Gone =
        try { graft.land.AtomicLanding.readVersion(s, tbl, 0L); false }
        catch { case _: IllegalArgumentException => true }
      import s.implicits._
      Seq((counts(0), counts(1), counts(2), v0Gone))
        .toDF("n_v1", "n_v2", "n_v3", "v0_reclaimed")
    }),

    // ---- manifest-pruned range READ under the gate (AtomicLanding
    // .readPruned): a narrow key interval on a range-clustered table
    // scans ONE dir of four, planned from the manifest's range lines
    // alone — the planned-dir count is column-gated, so a planner that
    // stopped pruning (4 dirs) or over-pruned (dropped rows) hash-fails
    // alongside the row values ----
    "q_acid_read_pruned" -> ((s, dir) => {
      val tbl = Spool.once(s"readPruned#$dir") {
        val d = Spool.dir("graft-acidreadp") + "/t"
        val base = docs(s, dir)
          .select(col("doc_id"), col("source"), length(col("text")).as("n"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") < 125), d,
          statsKeys = Seq("doc_id"))
        Seq((125, 250), (250, 375), (375, Int.MaxValue)).foreach { case (lo, hi) =>
          graft.land.AtomicLanding.commit(
            base.filter(col("doc_id") >= lo && col("doc_id") < hi),
            d, append = true)
        }
        d
      }
      graft.land.AtomicLanding.readPruned(s, tbl, "doc_id", 130L, 240L)
        .select(col("doc_id"), col("n"))
        .withColumn("n_planned_dirs",
          lit(graft.land.AtomicLanding
            .planPrunedDirs(tbl, "doc_id", 130L, 240L).size.toLong))
        .orderBy(col("doc_id"))
    }),

    // ---- CDC of a row-level DELETE under the gate: the change feed
    // between the pre- and post-delete versions must be EXACTLY the
    // victims tagged `delete` (keyed snapshot diff — the delete
    // rewrote a dir, so dir identity no longer tracks row identity);
    // surviving rows of the rewritten dir emit nothing ----
    "q_acid_cdf_delete" -> ((s, dir) => {
      val tbl = Spool.once(s"cdfDelete#$dir") {
        val d = Spool.dir("graft-acidcdfdel") + "/t"
        val base = docs(s, dir)
          .select(col("doc_id"), col("source"), length(col("text")).as("n"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") < 125), d,
          statsKeys = Seq("doc_id"))
        graft.land.AtomicLanding.commit(
          base.filter(col("doc_id") >= 125 && col("doc_id") < 250),
          d, append = true)
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") >= 250),
          d, append = true)
        graft.land.AtomicLanding.deletePruned(
          base.filter(col("doc_id") >= 125 && col("doc_id") < 250 &&
              col("doc_id") % 2 === 1)
            .select(col("doc_id")),
          d, "doc_id")
        d
      }
      val vNew = graft.land.AtomicLanding.currentVersion(tbl).get
      graft.land.ChangeFeed.changes(s, tbl, vNew - 1, vNew, "doc_id")
        .select(col("change_type"), col("doc_id"), col("n"))
        .orderBy(col("doc_id"))
    }),

    // ---- ACID compaction under the gate: a streaming table's tail of
    // small appended dirs folds into one snapshot (atomic swing; old
    // dirs stay for readers until vacuum) — data must be bit-identical
    // across the rewrite AND the dir count must actually drop to 1; the
    // live-dir count is column-gated so a compaction that silently
    // skipped (or dropped rows) hash-fails ----
    "q_acid_compact" -> ((s, dir) => {
      val tbl = Spool.once(s"compact#$dir") {
        val d = Spool.dir("graft-acidcompact") + "/t"
        val base = docs(s, dir).select(col("doc_id"), col("source"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") % 4 === 0), d)
        (1 to 3).foreach(i => graft.land.AtomicLanding.commit(
          base.filter(col("doc_id") % 4 === i), d, append = true))
        graft.land.AtomicLanding.compact(s, d, numFiles = 1)
        d
      }
      graft.land.AtomicLanding.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_ids"))
        .withColumn("n_live_dirs",
          lit(graft.land.AtomicLanding.liveDirCount(tbl).toLong))
    }),

    // ---- CHANGE DATA FEED under the gate (land/ChangeFeed.scala): an
    // incremental consumer reads the DELTA between two committed
    // versions, not the table. Span v0->v1 is an append — served from
    // the ADDED DIRS ONLY (manifest-level fast path, no old-snapshot
    // scan, cost ∝ delta); span v1->v2 is a merge rewrite — served by
    // the keyed full-outer snapshot diff (update_pre/update_post pairs
    // + inserts; identical images emit nothing). Both paths' full
    // change rows are hash-gated: the oracle re-derives every image
    // from the raw table ----
    "q_acid_cdf" -> ((s, dir) => {
      val tbl = Spool.once(s"cdf#$dir")(cdfBuild(s, dir))
      graft.land.ChangeFeed.changes(s, tbl, 0L, 1L, "doc_id")
        .withColumn("span", lit("v0_v1"))
        .unionByName(graft.land.ChangeFeed.changes(s, tbl, 1L, 2L, "doc_id")
          .withColumn("span", lit("v1_v2")))
        .select(col("span"), col("change_type"), col("doc_id"), col("n"))
        .orderBy(col("span"), col("change_type"), col("doc_id"))
    }),

    // ---- INCREMENTAL AGGREGATE MAINTENANCE under the gate
    // (land/IncrementalAgg.scala): the materialized (cnt, nn, sum)
    // aggregate of the CDF table is built ONCE from the v0 snapshot and
    // then only ever advanced by change-feed deltas (append span, then
    // merge span) — the Spark side never re-aggregates the final table;
    // the oracle computes the v2 truth from the raw fixture, so any
    // drift in the signed-delta algebra, the NULL convention, or the
    // vanished-group rule hash-fails ----
    "q_acid_incragg" -> ((s, dir) => {
      val tbl = Spool.once(s"cdf#$dir")(cdfBuild(s, dir))
      val keys = Seq("grp"); val ms = Seq("n")
      def keyed(df: DataFrame) = df.withColumn("grp", col("doc_id") % 7)
      val v0 = graft.land.IncrementalAgg.full(
        keyed(graft.land.AtomicLanding.readVersion(s, tbl, 0L)), keys, ms)
      val v1 = graft.land.IncrementalAgg.apply(v0,
        keyed(graft.land.ChangeFeed.changes(s, tbl, 0L, 1L, "doc_id")), keys, ms)
      graft.land.IncrementalAgg.apply(v1,
          keyed(graft.land.ChangeFeed.changes(s, tbl, 1L, 2L, "doc_id")), keys, ms)
        .orderBy(col("grp"))
    }),

    // ---- min/max maintenance (the NON-invertible complement): the v1
    // aggregate advances to v2 by re-aggregating ONLY the groups the
    // merge touched (broadcast semi-join on the delta's key set);
    // untouched groups keep their v1 rows verbatim. Oracle = the v2
    // truth, so a stale untouched row or a missed touched group fails ----
    "q_acid_incragg_minmax" -> ((s, dir) => {
      val tbl = Spool.once(s"cdf#$dir")(cdfBuild(s, dir))
      val keys = Seq("grp"); val ms = Seq("n")
      def keyed(df: DataFrame) = df.withColumn("grp", col("doc_id") % 7)
      graft.land.IncrementalAgg.refreshMinMax(
          graft.land.IncrementalAgg.fullMinMax(
            keyed(graft.land.AtomicLanding.readVersion(s, tbl, 1L)), keys, ms),
          keyed(graft.land.AtomicLanding.readVersion(s, tbl, 2L)),
          keyed(graft.land.ChangeFeed.changes(s, tbl, 1L, 2L, "doc_id")),
          keys, ms)
        .orderBy(col("grp"))
    }),

    // ---- ACID SCHEMA EVOLUTION under the gate: v0 commits (doc_id,
    // source); an evolveSchema append lands rows carrying a NEW n_chars
    // column. The merged read must surface the column with nulls in
    // pre-evolution rows (n_missing), exact values in the new rows
    // (sum_new), and NO row loss (n_rows); the v0 snapshot read through
    // time travel must still be 2 columns wide (n_v0_cols) — an
    // evolution that rewrote history instead of layering would change
    // it. Enforcement (the same append WITHOUT the flag throws) is
    // spec-pinned in AtomicLandingSpec ----
    "q_acid_evolve" -> ((s, dir) => {
      val tbl = Spool.once(s"evolve#$dir") {
        val d = Spool.dir("graft-acidevolve") + "/t"
        val ds = docs(s, dir)
        graft.land.AtomicLanding.commit(
          ds.filter(col("doc_id") >= 10).select(col("doc_id"), col("source")), d)
        graft.land.AtomicLanding.commit(
          ds.filter(col("doc_id") < 10).select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("n_chars")),
          d, append = true, evolveSchema = true)
        d
      }
      graft.land.AtomicLanding.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_missing"),
          sum(coalesce(col("n_chars"), lit(0L))).as("sum_new"))
        .withColumn("n_v0_cols",
          lit(graft.land.AtomicLanding.readVersion(s, tbl, 0L)
            .columns.length.toLong))
    }),

    // ---- the maintenance trilogy's last act, VACUUM, under the gate:
    // append + compact leaves superseded manifests/dirs on disk (reader
    // safety); a full writers-stopped vacuum must reclaim ALL of them
    // and NONE of the live snapshot — superseded count is column-gated
    // at 0 alongside the intact row identity ----
    "q_acid_vacuum" -> ((s, dir) => {
      val tbl = Spool.once(s"vacuum#$dir") {
        val d = Spool.dir("graft-acidvacuum") + "/t"
        val base = docs(s, dir).select(col("doc_id"), col("source"))
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") % 2 === 0), d)
        graft.land.AtomicLanding.commit(base.filter(col("doc_id") % 2 === 1), d,
          append = true)
        graft.land.AtomicLanding.compact(s, d, numFiles = 1)
        graft.land.AtomicLanding.vacuum(d)
        d
      }
      graft.land.AtomicLanding.read(s, tbl)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_ids"))
        .withColumn("n_superseded",
          lit(graft.land.AtomicLanding.supersededCount(tbl).toLong))
    }),

    // ---- bloom-prefiltered decontamination: the huge-benchmark path
    // (bench side too big to broadcast) — a bloom_filter_agg sketch
    // pre-filters corpus shingles before a shuffled exact join. Same
    // oracle as q_decontaminate: bloom false positives cost shuffle
    // rows, never rows in the answer ----
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ext.Decontaminate.overlapsBloom(
          d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10),
          minShared = 10)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // ---- INCREMENTAL decontamination — the per-batch production
    // shape DECON_PROBE_r15 motivated (both inline variants re-shingle
    // the whole corpus per call, 70x wall at 100x): the benchmark's
    // shingle index persists ONCE (buildBenchIndex), grown with a
    // later benchmark drop through the identified-append contract, and
    // each incoming BATCH decontaminates against it at batch-sized
    // cost — the corpus is never scanned at all. Same shingle
    // pipeline, shared code, so the output is bit-identical to the
    // inline overlaps() on the same batch: the oracle IS
    // q_decontaminate's, restricted to the batch slice ----
    "q_decontaminate_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val idx = Spool.once(s"deconIdx#$dir") {
        val p = Spool.dir("graft-deconidx") + "/idx"
        // build on the benchmark's front half, grow with the rest —
        // the index lifecycle under the same hash gate
        graft.ext.Decontaminate.buildBenchIndex(
          d.filter(col("doc_id") < 5), p, batchId = Some(0L))
        graft.ext.Decontaminate.addToBenchIndex(s, p,
          d.filter(col("doc_id") >= 5 && col("doc_id") < 10),
          batchId = Some(1L))
        p
      }
      graft.ext.Decontaminate.overlapsIncremental(s, idx,
          d.filter(col("doc_id") >= 10 && col("doc_id") % 7 === 0),
          minShared = 10)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // ---- the same incremental probe through the PERSISTED Bloom
    // sketch (the too-big-to-broadcast bench path): prefilter is a
    // superset, the exact join against the pinned snapshot removes
    // false positives — bit-identical to q_decontaminate_incremental ----
    "q_decontaminate_inc_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val idx = Spool.once(s"deconIdx#$dir") {
        val p = Spool.dir("graft-deconidx") + "/idx"
        graft.ext.Decontaminate.buildBenchIndex(
          d.filter(col("doc_id") < 5), p, batchId = Some(0L))
        graft.ext.Decontaminate.addToBenchIndex(s, p,
          d.filter(col("doc_id") >= 5 && col("doc_id") < 10),
          batchId = Some(1L))
        p
      }
      graft.ext.Decontaminate.overlapsIncrementalBloom(s, idx,
          d.filter(col("doc_id") >= 10 && col("doc_id") % 7 === 0),
          minShared = 10)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // ---- STREAMING benchmark-index ingest — the decontamination
    // analogue of q_stream_{bm25,ivf,ivfpq,fuzzy,cluster}_ingest,
    // closing the sixth persisted index's lifecycle: seed the index on
    // the benchmark's front half, then grow it from a file stream
    // (foreachBatch → addToBenchIndex with the engine's micro-batch id,
    // every append under the at-least-once replay contract and the
    // Bloom-sketch/version-pin lifecycle), and probe at the live index
    // after the drain. Stream-grown ≡ one-shot bits, so the
    // q_decontaminate_incremental oracle gates the whole streaming
    // lifecycle — a dropped batch, a double-applied replay, or a sketch
    // torn from its table version hash-fails here ----
    "q_stream_decon_ingest" -> ((s, dir) => {
      val d = docs(s, dir)
      val idx = Spool.once(s"deconIdx#$dir#stream") {
        val root = Spool.dir("graft-deconstream")
        val p = s"$root/idx"
        graft.ext.Decontaminate.buildBenchIndex(
          d.filter(col("doc_id") < 5), p,
          batchId = Some(-1L)) // seed below the engine's first id (0)
        drainStream(s, root,
          d.filter(col("doc_id") >= 5 && col("doc_id") < 10)
            .select(col("doc_id"), col("text")),
          (df, b) => graft.ext.Decontaminate.addToBenchIndex(s, p, df,
            batchId = Some(b)))
        p
      }
      graft.ext.Decontaminate.overlapsIncremental(s, idx,
          d.filter(col("doc_id") >= 10 && col("doc_id") % 7 === 0),
          minShared = 10)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // ---- Gopher-style repetition signals (duplicate word / 3-gram
    // fractions): template spam scores high ----
    "q_repetition" -> ((s, dir) =>
      TextStats.repetition(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- deterministic hash sampling: the stable-sampling primitive a
    // training-mix pipeline uses instead of rand() — membership depends
    // only on the key, so samples are reproducible across runs/engines
    // and consistent between tables sharing the key. ~10% per source
    // via the 60-bit md5 hash mod 100 ----
    "q_hash_sample" -> ((s, dir) =>
      docs(s, dir)
        .filter(pmod(graft.ext.TextOps.hash60(col("doc_id").cast("string")), lit(100)) < 10)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_id"))
        .orderBy(col("source"))),

    // ---- real merges-table BPE tokenization (native Catalyst
    // expression, standard table): per-doc token-exact count plus a
    // fingerprint of the full ordered subword stream — the oracle
    // replays the merge loop itself as a recursive CTE, so a tokenizer
    // that merges the wrong pair, in the wrong order, or with the wrong
    // overlap rule fails the hash gate ----
    "q_bpe_tokens" -> ((s, dir) => {
      val toks = graft.ext.Bpe.tokens(col("text"))
      docs(s, dir)
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
          md5(array_join(toks, "|")).as("token_fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- the TRAINED path end-to-end: one distributed word-count pass
    // + the bounded driver merge loop learns a merges table from the
    // corpus itself, then the same native expression tokenizes under it.
    // The oracle replays the LEARNED merge list (dumped after this query
    // runs — Verify's ordering) through the same recursive CTE. Note the
    // gate's scope: because the oracle is generated FROM the learned
    // table, it verifies that the distributed tokenization faithfully
    // replays whatever merges were learned — NOT that the learning
    // itself picked the right pairs in the right order. Trainer
    // correctness is pinned separately by BpeSpec's fixture assertions
    // (exact expected merge list on a known corpus) ----
    "q_bpe_trained" -> ((s, dir) => {
      val table = trainedTableFor(s, dir)
      val toks = graft.ext.Bpe.tokensWith(table, col("text"))
      docs(s, dir)
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
          md5(array_join(toks, "|")).as("token_fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic global shuffle-shard layout: the per-shard
    // manifest (count + order-independent content fingerprint) the shard
    // writer publishes — shard assignment is the engine-stable 60-bit
    // hash, so DuckDB replays the whole census ----
    "q_shard" -> ((s, dir) =>
      graft.ext.Sharding.census(docs(s, dir), col("doc_id"), col("text"), 8)
        .orderBy(col("shard"))),

    // ---- keyword extraction: per-doc top-3 distinctive terms by the
    // integer rarity score tf·N div df (NOT log TF-IDF — see the
    // operator doc; the log-free score is bit-stable cross-engine) ----
    "q_top_terms" -> ((s, dir) =>
      TextStats.topTermsByRarity(docs(s, dir), k = 3)
        .orderBy(col("doc_id"), col("rnk"))),

    // ---- heuristic language ID vs the labeled lang column ----
    "q_lang_id" -> ((s, dir) =>
      TextStats.langId(docs(s, dir))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))),

    // ---- per-doc quality score ----
    "q_quality_score" -> ((s, dir) =>
      TextStats.qualityScore(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- BPE-ish token-count histogram ----
    "q_token_hist" -> ((s, dir) =>
      docs(s, dir)
        .select(TextOps.bpeTokenCount(col("text")).as("n_bpe"))
        .groupBy(expr("n_bpe div 10").as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bucket"))),

    // ---- content fingerprints (md5 + order-sensitive rolling hash) ----
    "q_doc_fingerprint" -> ((s, dir) =>
      TextStats.fingerprints(docs(s, dir)).orderBy(col("doc_id"))),

    // ---- cosine top-k, brute-force baseline (ranking window) ----
    "q_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKBrute(e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- same answer via the bounded-heap top-k UDAF (the scale path:
    // map-side partial aggregation, k rows per partition per query) ----
    "q_cosine_topk_agg" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKAgg(e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- hard-negative mining for contrastive training: per anchor,
    // the top-k most-similar vectors BELOW the near-dup band (a planted
    // 1.01x copy of each anchor sits at cos ~1 and MUST be excluded —
    // an undetected duplicate mined as a negative is a false negative
    // that corrupts the loss; without the band filter every anchor's
    // rank-1 would be its own copy). Exact scaled-integer cosine, band
    // edge and ordering replayed in SQL ----
    "q_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      Similarity.hardNegatives(e.unionByName(pert),
          e.filter(col("vec_id") < 10), k = 5, dupThreshold = 0.95)
        .orderBy(col("anchor_id"), col("rnk"))
    }),

    // ---- the same mining through the IVF shortlist — the composed
    // scale path under its own gate: probe with headroom (k0 = 10 so
    // each anchor's one excluded copy cannot starve the final k = 5),
    // band-filter, keep k. With iters = 0 the whole composition replays
    // in SQL: float-dot assignment + probe (q_cosine_ivf's recipe) +
    // shortlist re-rank + band edge ----
    "q_hard_negatives_ivf" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      Similarity.hardNegativesFrom(
          graft.ext.Ivf.topKIvf(e.unionByName(pert),
            e.filter(col("vec_id") < 10), k = 10,
            nLists = 16, nProbe = 4, iters = 0),
          k = 5, dupThreshold = 0.95)
        .orderBy(col("anchor_id"), col("rnk"))
    }),

    // ---- embedding-cosine near-dup: the fixture has no planted vector
    // near-dups (max pairwise cos 0.51), so the query derives scaled
    // copies (vec * 1.01, float-rounded identically in both engines) and
    // must recover exactly the (v, copy-of-v) pairs via hyperplane-band
    // candidates + exact-cosine verify ----
    "q_embed_neardup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      Similarity.embedNearDupPairs(e.unionByName(pert), threshold = 0.9)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // ---- incremental embedding near-dup: an incoming batch (perturbed
    // copies of the first 50 vectors) deduped against the standing
    // corpus; corpus bands join BROADCAST batch bands, no corpus
    // self-join — cost scales with the batch (the ingest shape) ----
    "q_embed_neardup_incremental" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val batch = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      Similarity.embedNearDupPairsAgainst(e, batch, threshold = 0.9)
        .orderBy(col("corpus_id"), col("batch_id"))
    }),

    // ---- SemDeDup (semantic dedup over QUANTIZED embeddings at the
    // IVF tier, arXiv:2303.09540): int8-quantize the corpus, assign
    // each code vector to its max-quantized-cosine centroid (first-16
    // seeds, the IVF iters=0 discipline), pairwise-compare ONLY within
    // clusters, drop every vector within tau of a smaller-id neighbor.
    // The fixture plants 50 float-rounded 1.01x copies; the gate pins
    // per-vector verdicts (cid, the min-id witness, kept), so cluster
    // assignment, the integer dot kernel, and the keep policy all
    // hash-fail independently. Differs from q_embed_neardup by design:
    // cluster-bounded candidates instead of hyperplane bands, quantized
    // instead of exact similarity, per-vector verdict instead of pair
    // list ----
    "q_semantic_dedup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      graft.ext.SemDedup.dedup(e.unionByName(pert), nLists = 16, tau = 0.9)
        .orderBy(col("vec_id"))
    }),

    // ---- SemDeDup at the PERSISTED-IVF tier (the web-scale shape the
    // SemDedup scaladoc promises): the cluster assignment comes from a
    // saved Ivf index's lists member — the ANN index the ingest
    // pipeline already maintains — so this pass pays only the
    // quantization scan + the within-cluster pairwise term, no
    // assignment pass. With iters = 0 the index assignment is exact
    // scaled-integer float-dot math (q_cosine_ivf's replay recipe), and
    // a positive-scaled copy shares its original's argmax cluster, so
    // the whole composition replays in SQL: float-dot assignment +
    // quantized-cosine pairwise + min-id witness ----
    "q_semantic_dedup_ivf" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      val base = e.unionByName(pert)
      val idx = Spool.once(s"bm25Idx#$dir#semivf") {
        val d = Spool.dir("graft-semivf") + "/idx"
        graft.ext.Ivf.buildSavedIndex(base, d, nLists = 16, iters = 0)
      }
      graft.ext.SemDedup.dedupWithIndex(base, idx, tau = 0.9)
        .orderBy(col("vec_id"))
    }),

    // ---- INCREMENTAL semantic dedup through the PERSISTED state
    // (SemDedupState — the daily-pipeline shape the other dedup tiers
    // gate as q_dedup_incremental / q_embed_neardup_incremental /
    // q_decontaminate_incremental): the standing corpus's quantized
    // codes + cluster assignment live as ACID members with stats/cents
    // FROZEN at build; the arriving batch quantizes with the frozen
    // stats (out-of-envelope values clamp to the int8 boundary),
    // assigns against the frozen centroids, and pairwise-compares ONLY
    // its clusters' standing members — the corpus never self-joins and
    // standing verdicts are untouched (the pass is read-only). The
    // batch plants both verdicts: 1.01x float-rounded copies (dups,
    // witness = the original) and sign-flipped vectors (novel) ----
    "q_semantic_dedup_incremental" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val st = Spool.once(s"semState#$dir") {
        val d = Spool.dir("graft-semstate") + "/state"
        graft.ext.SemDedupState.buildSaved(e, d, nLists = 16)
      }
      val batch = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
        .unionByName(e.filter(col("vec_id") >= 50 && col("vec_id") < 80)
          .select((col("vec_id") + 20000).as("vec_id"),
            transform(col("embedding"),
              x => (-x.cast("double")).cast("float")).as("embedding")))
      graft.ext.SemDedupState.dedupBatch(s, st, batch, tau = 0.9)
        .orderBy(col("vec_id"))
    }),

    // ---- DRIFT-GATED REBUILD of the semantic-dedup state — the
    // decision seam the IVF tier carries (rebalance drift probe)
    // applied to the frozen-quantizer state: seed on a PREFIX slice,
    // append a 3x-scaled tail that clamps far outside the frozen
    // envelope, and let the BOUNDED probe (newest dirs only, never a
    // corpus scan) decide — it fires, buildSaved at the same path
    // flips readers to the new generation in one root CAS, and a
    // second probe over the rebuilt envelope SKIPS (re-armed). The
    // gate hashes the post-rebuild verdicts, which a same-corpus
    // one-shot replays exactly (frozen-quantizer determinism) ----
    "q_semantic_dedup_rebuilt" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val st = Spool.once(s"semRebuild#$dir") {
        val d = Spool.dir("graft-semrebuild") + "/state"
        val seed = e.filter(col("vec_id") < 200)
        val drifted = e.filter(col("vec_id") >= 200)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => (x.cast("double") * lit(3.0d)).cast("float"))
              .as("embedding"))
        graft.ext.SemDedupState.buildSaved(seed, d, nLists = 16)
        graft.ext.SemDedupState.addToSaved(s, d, drifted)
        val full = seed.unionByName(drifted)
        require(graft.ext.SemDedupState.rebuildIfDrifted(s, d, full,
          nLists = 16), "the clamped tail must trip the drift probe")
        require(!graft.ext.SemDedupState.rebuildIfDrifted(s, d, full,
          nLists = 16), "a freshly rebuilt envelope must re-arm low")
        d
      }
      graft.ext.SemDedupState.verdictsSaved(s, st, tau = 0.9)
        .orderBy(col("vec_id"))
    }),

    // ---- STREAMING ingest into the SEMANTIC-DEDUP state — the seventh
    // persisted index lifecycle under a q_stream_*_ingest gate (after
    // ivf/ivfpq/bm25/fuzzy/cluster/decon): the seed build freezes the
    // quantizer stats + centroids (seed watermark -1), a file-source
    // stream drains the corpus tail (plus planted 1.01x near-copies) in
    // identified micro-batches through SemDedupState.addToSaved — each
    // append quantizes ONLY its batch against the frozen stats, assigns
    // against the frozen centroids, and commits under the batch-id
    // replay channel — and the full verdict sweep runs at the live root
    // AFTER the drain. Frozen stats + frozen cents make growth
    // order-independent, so the oracle replays the whole lifecycle as
    // ONE-SHOT SQL: seed-sliced stats, first-16-seed centroids,
    // within-cluster pairs, min-id witness ----
    "q_stream_semdedup_ingest" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val st = Spool.once(s"semStream#$dir") {
        val root = Spool.dir("graft-semstream")
        val d = s"$root/state"
        graft.ext.SemDedupState.buildSaved(
          e.filter(col("vec_id") < 200), d, nLists = 16,
          batchId = Some(-1L)) // seed below the engine's first id (0)
        val tail = e.filter(col("vec_id") >= 200).unionByName(
          e.filter(col("vec_id") < 50)
            .select((col("vec_id") + 10000).as("vec_id"),
              transform(col("embedding"),
                x => (x.cast("double") * lit(1.01d)).cast("float"))
                .as("embedding")))
        drainStream(s, root, tail,
          (df, b) => graft.ext.SemDedupState.addToSaved(s, d, df,
            batchId = Some(b)))
        d
      }
      graft.ext.SemDedupState.verdictsSaved(s, st, tau = 0.9)
        .orderBy(col("vec_id"))
    }),

    // ---- embedding dedup end-to-end: banded candidate pairs -> exact
    // verify -> connected-components clustering -> cluster census. The
    // embedding mirror of q_curation_funnel_cc's doc-side closure ----
    "q_embed_cluster" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      val pairs = Similarity.embedNearDupPairs(e.unionByName(pert), threshold = 0.9)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      graft.ext.ConnectedComponents.components(pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("component"))
    }),

    // ---- INCREMENTAL clustering through the persisted state — cluster
    // assignments as a growable artifact (the every-index-grows contract
    // applied to dedup clusters): standing pairs cluster once into an
    // ACID state table; an arriving batch folds its new edges (batch x
    // corpus + batch-internal) in via Clusters.addToSaved — contraction:
    // endpoints map to standing roots, CC runs on the BATCH-sized
    // contracted graph, only remapped + first-seen rows are written,
    // generation-stamped, CAS on the state version, identified batch
    // replayed once to prove the no-op — then one maintenance fold.
    // Hyperplane bands are a per-vector property, so
    // pairs(standing ∪ batch) = standing pairs ∪ cross ∪ batch pairs
    // exactly, and incremental ≡ one-shot: q_embed_cluster's census
    // oracle gates the whole lifecycle unchanged ----
    "q_embed_cluster_grown" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      def pert(lo: Int, hi: Int) =
        e.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select((col("vec_id") + 10000).as("vec_id"),
            transform(col("embedding"),
              x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      val path = Spool.once(s"clusters#$dir") {
        val d = Spool.dir("graft-clusters") + "/state"
        val standing = e.unionByName(pert(0, 25))
        graft.ext.Clusters.buildSaved(
          Similarity.embedNearDupPairs(standing, threshold = 0.9)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")), d)
        val batch = pert(25, 50)
        val newEdges = Similarity
          .embedNearDupPairsAgainst(standing, batch, threshold = 0.9)
          .select(col("corpus_id").as("doc_a"), col("batch_id").as("doc_b"))
          .unionByName(Similarity.embedNearDupPairs(batch, threshold = 0.9)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        graft.ext.Clusters.addToSaved(s, d, newEdges, batchId = Some(1L))
        // at-least-once replay of the identified batch: pure no-op
        graft.ext.Clusters.addToSaved(s, d, newEdges, batchId = Some(1L))
        graft.ext.Clusters.maintainSaved(s, d)
        d
      }
      graft.ext.Clusters.snapshot(s, path)
        .groupBy(col("component")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("component"))
    }),

    // ---- STREAMING edge ingest into the persisted cluster state — the
    // clustering cell of the streamed-ingest column (fuzzy sigs / BM25 /
    // IVF / IVF-PQ / clusters): the batch's new edges spool as 3 files,
    // a file-source stream drains them in micro-batches, each
    // foreachBatch body folding its edges in via Clusters.addToSaved
    // with the engine's micro-batch id (at-least-once replays are pure
    // no-ops; CAS on the state version), census probed at the live
    // state after the drain. Incremental CC is ORDER-INDEPENDENT in the
    // final partition (components of a union don't care how edges
    // arrive), so streamed ≡ grown ≡ one-shot and the same census
    // oracle gates it ----
    "q_stream_cluster_ingest" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      def pert(lo: Int, hi: Int) =
        e.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select((col("vec_id") + 10000).as("vec_id"),
            transform(col("embedding"),
              x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
      val path = Spool.once(s"clusters#$dir#stream") {
        val root = Spool.dir("graft-clusterstream")
        val d = s"$root/state"
        val standing = e.unionByName(pert(0, 25))
        graft.ext.Clusters.buildSaved(
          Similarity.embedNearDupPairs(standing, threshold = 0.9)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")), d)
        val batch = pert(25, 50)
        val newEdges = Similarity
          .embedNearDupPairsAgainst(standing, batch, threshold = 0.9)
          .select(col("corpus_id").as("doc_a"), col("batch_id").as("doc_b"))
          .unionByName(Similarity.embedNearDupPairs(batch, threshold = 0.9)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        drainStream(s, root, newEdges,
          (df, b) => graft.ext.Clusters.addToSaved(s, d, df,
            batchId = Some(b)))
        d
      }
      graft.ext.Clusters.snapshot(s, path)
        .groupBy(col("component")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("component"))
    }),

    // ---- embedding preprocessing: L2-normalization. The fixture is
    // already unit-normalized, so the op must be observable — the query
    // normalizes a SCALED copy (x2, float-exact) and fingerprints the
    // result with the scaled self-dot, which lands back at ~1e15 iff
    // the normalization actually divided the doubled norm out ----
    "q_embed_normalize" -> ((s, dir) => {
      val doubled = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * lit(2.0d)).cast("float")).as("embedding"))
      doubled.select(col("vec_id"),
          Similarity.l2normalize(col("embedding")).as("ne"))
        .select(col("vec_id"),
          Similarity.dotScaled(col("ne"), col("ne")).as("unit_dot"))
        .orderBy(col("vec_id"))
    }),

    // ---- LSH-bucketed approximate NN at the PRODUCTION config (4 bands
    // x 4 bits) — fully hash-gated: the signature dot is the exact
    // scaled-integer dot_scaled, so buckets are bit-reproducible, and the
    // oracle re-derives signature -> bands -> candidates -> exact rank in
    // DuckDB from the same seeded hyperplane constants ----
    "q_cosine_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKAnn(e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- hyperplane ANN, degenerate-exact config: one band of 0 bits
    // masks every signature to bucket 0, so the candidate set is all
    // pairs and the band machinery's answer is exact by construction —
    // same hash oracle as the brute-force top-k ----
    "q_cosine_ann_exact" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKAnn(e, e.filter(col("vec_id") < 10), k = 5,
          nBands = 1, bandBits = 0)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- product quantization, degenerate-exact config: identity
    // codebook (k = |corpus| seeds, zero Lloyd iterations) + full
    // shortlist + exact re-rank == brute force by construction — the
    // whole subspace→codebook→ADC→re-rank machinery under the hash
    // oracle; production configs (m=8, k=16: 32x compression) are
    // recall-tested in PqSpec. The gate runs on a 200-vector slice:
    // the identity codebook is O(|corpus|²·m) by construction (every
    // subvector is a centroid), which is the price of exactness, not a
    // production plan — the slice keeps the bench honest while the
    // machinery exercised is identical ----
    "q_cosine_pq_exact" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < 200)
      val cb = graft.ext.Pq.train(e, m = 8, k = 200, iters = 0)
      graft.ext.Pq.topKRerank(e, e.filter(col("vec_id") < 10), k = 5,
          cb, shortlist = 201)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the PRODUCTION PQ shape, fully hash-gated: m=8 subspaces,
    // k=16 codes (32x compression), iters = 0 so the codebook is the
    // first 16 vectors' sub-slices (SQL-reproducible, the same pinning
    // trick as q_cosine_ivf) — then a genuinely approximate
    // shortlist=50-of-500 ADC prune + exact integer re-rank. Every step
    // (sub-distance assignment, ADC lookup-table sum, both rankings) is
    // scaled-integer math with total-order tie-breaks, so the oracle
    // replays codebook -> assign -> ADC -> shortlist -> re-rank exactly;
    // Lloyd-TRAINED codebooks stay covered by PqSpec's recall tests ----
    "q_cosine_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = graft.ext.Pq.train(e, m = 8, k = 16, iters = 0)
      graft.ext.Pq.topKRerank(e, e.filter(col("vec_id") < 10), k = 5,
          cb, shortlist = 50)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- IVF-PQ, the COMPOSED production index (FAISS IVFx,PQy shape),
    // fully hash-gated: coarse routing (16 lists, nProbe=4) over
    // residual PQ codes (m=8, k=16), ADC prune to a 50-of-500 shortlist,
    // exact integer re-rank. Both quantizers pinned (iters=0) — coarse =
    // first 16 vectors, residual codebooks = first 16 residual slices —
    // and residuals are double-exact (float diffs fit doubles), so the
    // oracle replays route->residual->codes->ADC->re-rank step for step.
    // Lloyd-trained quantizers stay covered by IvfPqSpec recall T ----
    "q_cosine_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      // spooled: the corpus pass builds and saves once and every probe
      // loads the saved index, the probe a user repeats (q_cosine_ivf
      // and q_cosine_pq keep measuring the build, training per run)
      val p = Spool.once(s"ivfpq#$dir") {
        val d = Spool.dir("graft-ivfpq") + "/idx"
        graft.ext.IvfPq.save(graft.ext.IvfPq.buildIndex(e), d)
        d
      }
      graft.ext.IvfPq.probe(e, graft.ext.IvfPq.load(s, p),
          e.filter(col("vec_id") < 10), k = 5, nProbe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the GROWN persisted IVF-PQ index (q_cosine_ivf_grown's
    // pattern on the compressed tier — the engine-wide every-index-
    // grows contract): saved on the corpus prefix (which contains BOTH
    // frozen seed sets — coarse = first 16 vectors, PQ codebooks =
    // first 16 residual slices), extended by two identified ACID
    // append batches (codes and norms each carry their own batch-id
    // dedupe; one root CAS publishes the quadruple), probed from the
    // saved snapshot. Deterministic quantizers make growth
    // order-independent and the grown index bit-identical to the
    // one-shot build, so the same replay oracle gates it unchanged ----
    "q_cosine_ivfpq_grown" -> ((s, dir) => {
      val e = emb(s, dir)
      val p = Spool.once(s"ivfpqGrown#$dir") {
        val d = Spool.dir("graft-ivfpqgrown") + "/idx"
        graft.ext.IvfPq.save(
          graft.ext.IvfPq.buildIndex(e.filter(col("vec_id") < 200)), d,
          batchId = Some(0L)) // seed watermark vouches the build prefix
        graft.ext.IvfPq.addToSavedIndex(s, d,
          e.filter(col("vec_id") >= 200 && col("vec_id") < 350),
          batchId = Some(1L))
        graft.ext.IvfPq.addToSavedIndex(s, d,
          e.filter(col("vec_id") >= 350), batchId = Some(2L))
        d
      }
      graft.ext.IvfPq.probe(e, graft.ext.IvfPq.load(s, p),
          e.filter(col("vec_id") < 10), k = 5, nProbe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the ANN SELF-JOIN shape: every corpus vector probes the same
    // IVF-PQ index (queries = corpus, the dedup-by-ANN workload), via
    // probeShuffled — nothing query-sized broadcasts: salted shuffle
    // join for codes x probes, shuffle joins for the LUT and the
    // re-rank's query embeddings. Values are identical to the broadcast
    // probe (same integer math), so the same replay oracle gates it with
    // the query predicate widened to the whole corpus ----
    "q_cosine_ivfpq_selfjoin" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.ext.IvfPq.probeShuffled(e, graft.ext.IvfPq.buildIndex(e), e,
          k = 5, nProbe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- IVF approximate NN, partial probe (4 of 16 lists — genuinely
    // approximate), fully hash-gated: with iters = 0 the coarse quantizer
    // is the first 16 vectors by vec_id and every subsequent step
    // (assignment, probe selection, in-list rank) is exact scaled-integer
    // math, so the oracle replays the whole index build + probe in SQL.
    // Lloyd-trained centroids stay covered by q_cosine_ivf_exact (full
    // probe, hash-green) and IvfSpec's recall-monotonicity test ----
    "q_cosine_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.ext.Ivf.topKIvf(e, e.filter(col("vec_id") < 10), k = 5,
          nLists = 16, nProbe = 4, iters = 0)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the GROWN persisted IVF index (q_bm25_grown's pattern on the
    // ANN tier): built on the corpus prefix (which contains the seed
    // quantizer's first-16-by-vec_id vectors), extended by two ACID
    // append batches against the FROZEN quantizer, probed from the
    // saved snapshot. With iters = 0 assignment is deterministic, so
    // the grown index is bit-identical to the one-shot build over the
    // full corpus and q_cosine_ivf's replay oracle gates it unchanged ----
    "q_cosine_ivf_grown" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Spool.once(s"ivfGrown#$dir") {
        val d = Spool.dir("graft-ivfgrown") + "/idx"
        graft.ext.Ivf.buildSavedIndex(
          e.filter(col("vec_id") < 200), d, nLists = 16, iters = 0,
          batchId = Some(0L)) // seed watermark vouches the build prefix
        // identified batches: the batch-id fast path (no dedupe scan
        // of the live lists) must still match the one-shot build bits
        graft.ext.Ivf.addToSavedIndex(s, d,
          e.filter(col("vec_id") >= 200 && col("vec_id") < 350),
          batchId = Some(1L))
        graft.ext.Ivf.addToSavedIndex(s, d, e.filter(col("vec_id") >= 350),
          batchId = Some(2L))
        d
      }
      graft.ext.Ivf.probeSavedIndex(s, idx,
          e.filter(col("vec_id") < 10), k = 5, nProbe = 4)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- MAJOR index maintenance under the gate: an index built on a
    // SUFFIX segment (seed quantizer = vectors 350-365, NOT the
    // canonical first-16) and grown with the earlier segments routes
    // every vector through drifted seeds — its probe bits deliberately
    // differ from the canonical build's. rebalanceSavedIndex re-seeds
    // from the current corpus (iters = 0 → first 16 by vec_id, now the
    // canonical seeds) and reassigns the lists in one corpus-sized
    // rewrite (cents + lists CAS'd, root swings once). Rebalanced ≡
    // one-shot build BIT-IDENTICAL, so q_cosine_ivf's replay oracle
    // gates the whole drift-then-recluster lifecycle — a rebalance
    // that kept the drifted seeds, dropped a row, or mixed generations
    // hash-fails ----
    "q_cosine_ivf_rebalanced" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Spool.once(s"ivfRebal#$dir") {
        val d = Spool.dir("graft-ivfrebal") + "/idx"
        graft.ext.Ivf.buildSavedIndex(
          e.filter(col("vec_id") >= 350), d, nLists = 16, iters = 0,
          batchId = Some(0L))
        graft.ext.Ivf.addToSavedIndex(s, d,
          e.filter(col("vec_id") < 200), batchId = Some(1L))
        graft.ext.Ivf.addToSavedIndex(s, d,
          e.filter(col("vec_id") >= 200 && col("vec_id") < 350),
          batchId = Some(2L))
        graft.ext.Ivf.rebalanceSavedIndex(s, d, nLists = 16, iters = 0)
        d
      }
      graft.ext.Ivf.probeSavedIndex(s, idx,
          e.filter(col("vec_id") < 10), k = 5, nProbe = 4)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- MAJOR maintenance on the COMPRESSED tier under the gate
    // (q_cosine_ivf_rebalanced's drift-then-recluster lifecycle on
    // IVF-PQ): the index is saved from a SUFFIX segment — coarse seeds
    // = vectors 350-365, PQ codebooks = their residual slices, both
    // drifted off the canonical first-16 — then grown with the earlier
    // segments, then rebalanceSavedIndex retrains BOTH quantizers over
    // the full corpus (iters = 0 → canonical seeds), recodes every
    // vector, and swings the root once. The lossy layout cannot
    // reconstruct its own vectors, so the caller supplies the retrain
    // corpus and the census fence proves it covers every live id
    // (append-loss protection a raw re-save lacks). Rebalanced ≡
    // one-shot build BIT-IDENTICAL, so q_cosine_ivfpq's replay oracle
    // gates it — drifted seeds kept, a dropped row, or a mixed
    // generation all hash-fail ----
    "q_cosine_ivfpq_rebalanced" -> ((s, dir) => {
      val e = emb(s, dir)
      val p = Spool.once(s"ivfpqRebal#$dir") {
        val d = Spool.dir("graft-ivfpqrebal") + "/idx"
        graft.ext.IvfPq.save(
          graft.ext.IvfPq.buildIndex(e.filter(col("vec_id") >= 350)), d,
          batchId = Some(0L))
        graft.ext.IvfPq.addToSavedIndex(s, d,
          e.filter(col("vec_id") < 200), batchId = Some(1L))
        graft.ext.IvfPq.addToSavedIndex(s, d,
          e.filter(col("vec_id") >= 200 && col("vec_id") < 350),
          batchId = Some(2L))
        graft.ext.IvfPq.rebalanceSavedIndex(s, d, e)
        d
      }
      graft.ext.IvfPq.probe(e, graft.ext.IvfPq.load(s, p),
          e.filter(col("vec_id") < 10), k = 5, nProbe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- STREAMING vector ingest, end-to-end under the gate: a
    // file-source stream drains the corpus tail in micro-batches
    // (maxFilesPerTrigger = 1), each foreachBatch body appending to the
    // persisted IVF index through [[graft.ext.Ivf.addToSavedIndex]]
    // with the engine's micro-batch id — the batch-id fast path, so an
    // at-least-once replay heals the root without scanning the lists —
    // and the probe runs at the live root AFTER the stream drains.
    // With iters = 0 the frozen quantizer makes growth
    // order-independent and the grown index bit-identical to the
    // one-shot build over the full corpus, so q_cosine_ivf's replay
    // oracle gates the whole streaming lifecycle for free ----
    "q_stream_ivf_ingest" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Spool.once(s"ivfStream#$dir") {
        val root = Spool.dir("graft-ivfstream")
        val d = s"$root/idx"
        // prefix build freezes the seed quantizer (first 16 by vec_id)
        graft.ext.Ivf.buildSavedIndex(
          e.filter(col("vec_id") < 200), d, nLists = 16, iters = 0,
          batchId = Some(-1L)) // seed below the engine's first id (0)
        // spool the tail as 3 files; AvailableNow + one file per
        // trigger drains it in 3 micro-batches
        drainStream(s, root, e.filter(col("vec_id") >= 200),
          (df, b) => graft.ext.Ivf.addToSavedIndex(s, d, df,
            batchId = Some(b)))
        d
      }
      graft.ext.Ivf.probeSavedIndex(s, idx,
          e.filter(col("vec_id") < 10), k = 5, nProbe = 4)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- STREAMING ingest into the COMPRESSED index — the last cell of
    // the lifecycle matrix (fuzzy sigs / BM25 / IVF / IVF-PQ each now
    // build, append, STREAM, maintain, probe): a file-source stream
    // drains the corpus tail in micro-batches, each foreachBatch body
    // running [[graft.ext.IvfPq.addToSavedIndex]] with the engine's
    // micro-batch id — per-member batch-id dedupe (codes and n2 commit
    // separately) plus one root CAS per batch, all under the
    // at-least-once replay contract — and the probe scores at the live
    // root after the drain. Frozen quantizers make growth
    // order-independent and bit-identical to the one-shot build, so
    // q_cosine_ivfpq's replay oracle gates the streaming lifecycle ----
    "q_stream_ivfpq_ingest" -> ((s, dir) => {
      val e = emb(s, dir)
      val p = Spool.once(s"ivfpqStream#$dir") {
        val root = Spool.dir("graft-ivfpqstream")
        val d = s"$root/idx"
        // prefix build freezes both seed sets (coarse = first 16 by
        // vec_id, PQ codebooks = first 16 residual slices)
        graft.ext.IvfPq.save(
          graft.ext.IvfPq.buildIndex(e.filter(col("vec_id") < 200)), d,
          batchId = Some(-1L)) // seed below the engine's first id (0)
        drainStream(s, root, e.filter(col("vec_id") >= 200),
          (df, b) => graft.ext.IvfPq.addToSavedIndex(s, d, df,
            batchId = Some(b)))
        d
      }
      graft.ext.IvfPq.probe(e, graft.ext.IvfPq.load(s, p),
          e.filter(col("vec_id") < 10), k = 5, nProbe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the TRAINED quantizer paths under a measured-recall envelope
    // (the q_hll_merge pattern): Lloyd-trained float centroids/codebooks
    // don't replay cross-engine (libm convergence), so instead of a
    // value replay these rows compute recall@10 against the exact
    // brute-force top-k and gate a pinned in-envelope flag — a trained
    // quantizer that collapses (wrong assignments, degenerate
    // centroids) drags recall below the floor and hash-fails the row.
    // Envelopes, from recall measured across sf0.001/0.01/0.1:
    // IVF(nLists=16, nProbe=4, iters=3) measures 0.81-0.91 -> floor
    // 0.7; PQ(m=8, k=16, iters=2, shortlist=50) measures 0.60-0.69 ->
    // floor 0.5. Both floors sit several flipped-neighbor quanta below
    // the worst measurement, so last-bit centroid drift (the only
    // nondeterminism, see Ivf's scaladoc) cannot flip the flag ----
    "q_cosine_ivf_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val k = 10
      val approx = graft.ext.Ivf.topKIvf(e, q, k,
        nLists = 16, nProbe = 4, iters = 3)
      val hits = approx.select(col("query_id"), col("neighbor_id"))
        .join(Similarity.topKBrute(e, q, k)
          .select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_queries"), lit(k).cast("long").as("k"),
          (col("n_hits").cast("double") /
            (col("n_queries") * k).cast("double") >= lit(0.7d))
            .as("recall_in_envelope"))
    }),

    // ---- the COMPOSED trained IVF-PQ (Lloyd coarse + Lloyd residual
    // codebooks + ADC probe + exact re-rank) under the same
    // measured-recall envelope: recall@10 measures
    // 0.69-0.79 across sf0.001/0.01/0.1 (nLists=16 itersCoarse=3, m=8
    // k=16 itersPq=2, nProbe=4, shortlist=50) -> floor 0.5, 38
    // flipped-neighbor quanta below the worst measurement ----
    "q_cosine_ivfpq_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val k = 10
      val idx = graft.ext.IvfPq.buildIndex(e, nLists = 16, m = 8, k = 16,
        itersCoarse = 3, itersPq = 2)
      val approx = graft.ext.IvfPq.probe(e, idx, q, k,
        nProbe = 4, shortlist = 50)
      val hits = approx.select(col("query_id"), col("neighbor_id"))
        .join(Similarity.topKBrute(e, q, k)
          .select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_queries"), lit(k).cast("long").as("k"),
          (col("n_hits").cast("double") /
            (col("n_queries") * k).cast("double") >= lit(0.5d))
            .as("recall_in_envelope"))
    }),

    "q_cosine_pq_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val k = 10
      val cb = graft.ext.Pq.train(e, m = 8, k = 16, iters = 2)
      val approx = graft.ext.Pq.topKRerank(e, q, k, cb, shortlist = 50)
      val hits = approx.select(col("query_id"), col("neighbor_id"))
        .join(Similarity.topKBrute(e, q, k)
          .select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      q.agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_queries"), lit(k).cast("long").as("k"),
          (col("n_hits").cast("double") /
            (col("n_queries") * k).cast("double") >= lit(0.5d))
            .as("recall_in_envelope"))
    }),

    // ---- IVF at full probe (nProbe = nLists): every list is scanned, so
    // the result is exact by construction — which puts the whole IVF
    // machinery (train -> assign -> probe -> in-list exact rank) under the
    // same hash oracle as the brute-force top-k ----
    "q_cosine_ivf_exact" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.ext.Ivf.topKIvf(e, e.filter(col("vec_id") < 10), k = 5,
          nLists = 16, nProbe = 16)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- multimodal: binary payload column + per-modality byte stats ----
    "q_multimodal_stats" -> ((s, dir) =>
      Multimodal.mediaTable(docs(s, dir))
        .groupBy(col("modality"))
        .agg(count(lit(1)).as("n"),
          sum(octet_length(col("payload"))).as("total_bytes"),
          min(octet_length(col("payload"))).as("min_bytes"),
          max(octet_length(col("payload"))).as("max_bytes"))
        .orderBy(col("modality"))),

    // ---- multimodal decode: REAL container formats round-tripped.
    // encodeMedia writes genuine binary PPM / RIFF-WAVE payloads (header
    // parameters derived from doc_id); decodeFeatures parses them back
    // from raw bytes only. The oracle predicts every parsed field
    // independently from doc_id, so a parser that misreads any header
    // byte fails the hash gate ----
    "q_multimodal_features" -> ((s, dir) =>
      Multimodal.decodeFeatures(Multimodal.encodeMedia(docs(s, dir)))
        .select(col("media_id"), col("codec"), col("nBytes").as("n_bytes"),
          col("d1"), col("d2"), col("d3"))
        .orderBy(col("media_id"))),

    // ---- the media TRANSFORM path under the gate: resize (2x2) +
    // frame-sample (stride 2) over real containers, then decode — the
    // output geometry is fully derivable from doc_id formulas, so the
    // oracle predicts every byte count and header field without running
    // the codec (a transform that wrote a malformed container or the
    // wrong geometry hash-fails) ----
    "q_multimodal_transform" -> ((s, dir) =>
      Multimodal.decodeFeatures(
          Multimodal.transformMedia(Multimodal.encodeMedia(docs(s, dir)),
            tw = 2, th = 2, stride = 2))
        .select(col("media_id"), col("codec"), col("nBytes").as("n_bytes"),
          col("d1"), col("d2"), col("d3"))
        .orderBy(col("media_id"))),

    // ---- opaque-object scan: the binaryFile source over a generated
    // media dir (S4-as-DataFrame) — file id parsed from the path, byte
    // length from the source's own metadata column, verified against the
    // documents the files were spooled from ----
    "q_binary_objects" -> ((s, dir) => {
      val tmp = Spool.once(s"bin#$dir") {
        val d = Spool.dir("graft-binobj")
        docs(s, dir).filter(col("doc_id") < 20)
          .select(col("doc_id"), col("text")).collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, f"${r.getLong(0)}%05d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        d
      }
      Multimodal.binaryObjects(s, s"$tmp/*.bin")
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus vocabulary: token frequency top-20 (per-doc counts from
    // the word_counts byte scan, summed corpus-wide; deterministic
    // (n desc, token asc) tie-break) ----
    "q_vocab" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(call_function("word_counts", col("text"))).as("tc"))
        .groupBy(col("tc.term").as("token")).agg(sum(col("tc.cnt")).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    // ---- the composed curation funnel: exact dedup -> near-dup removal
    // -> quality filter, with per-stage corpus sizes (exact dups derived
    // by unioning id-shifted copies so stage 2 has real work to do).
    // The verified pair graph is spooled (see pairsFor) and RESTRICTED
    // per stage corpus (sound: LSH collision is pairwise — see
    // Curation.pairGraph) — q_dedup_minhash keeps measuring detection
    // itself; these rows measure the curation POLICIES, the same
    // detection/application split as the q_dup_spans/q_scrub_spans
    // spool ----
    "q_curation_funnel" -> ((s, dir) => {
      val withDups = dupedDocs(s, dir)
      val pg = Some(pairsFor(s, dir, "withdups", withDups))
      Curation.funnel(withDups,
          nearDupPolicy = (d, t) => Curation.dropNearDups(d, t, pg))
        .orderBy(col("stage"))
    }),

    // ---- the same funnel under the TRANSITIVE near-dup policy:
    // connected components (large-star/small-star) over the verified
    // pair graph, survivor = min doc_id per component ----
    "q_curation_funnel_cc" -> ((s, dir) => {
      val withDups = dupedDocs(s, dir)
      val pg = Some(pairsFor(s, dir, "withdups", withDups))
      Curation.funnel(withDups,
          nearDupPolicy = (d, t) => Curation.dropNearDupsCC(d, t, pg))
        .orderBy(col("stage"))
    }),

    // ---- cluster-aware dedup: keep the HIGHEST-QUALITY doc per
    // near-dup cluster (CC over the verified pair graph), not the
    // lowest id — the survivor policy a curation pipeline wants when
    // clusters mix a clean original with mangled copies ----
    "q_cluster_best" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      Curation.keepBestPerCluster(d, threshold = 0.6,
          pairs = Some(pairsFor(s, dir, "raw", d)))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- training-mix temperature weights per source: weight ∝
    // sqrt(n_docs) (alpha = 0.5). sqrt is IEEE-exact (pow is not), and
    // the normalizing sum runs over floor-scaled integers so the
    // denominator is order-independent — same recipe as the cosine
    // dot products ----
    "q_mix_weights" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir).groupBy(col("source")).agg(count(lit(1)).as("n"))
        .withColumn("sw",
          floor(sqrt(col("n").cast("double")) * lit(1e9)).cast("long"))
        .withColumn("weight",
          col("sw").cast("double") /
            sum(col("sw")).over(Window.partitionBy()).cast("double"))
        .select(col("source"), col("n"), col("weight"))
        .orderBy(col("source"))
    }),

    // ---- apply a training mix: per-source integer percent (derived
    // here from the source name so both engines can compute it), rows
    // kept by the deterministic hash gate — zero shuffles before the
    // final count; the mix applies in the corpus scan itself ----
    "q_mix_apply" -> ((s, dir) => {
      val pct = pmod(TextOps.hash60(col("source")), lit(16)) + lit(5)
      Sampling.applyMixPct(docs(s, dir).withColumn("pct", pct), "doc_id", col("pct"))
        .groupBy(col("source"), col("pct"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // ---- stratified deterministic sample: exactly 5 docs per source,
    // ranked by (hash, id) — reproducible balanced eval-set draws ----
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedTopN(docs(s, dir), "source", "doc_id", n = 5)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))),

    // ---- weighted deterministic sample: 200 docs drawn with
    // probability tracking n_chars (longer docs preferred), via
    // integer-exact hash priority sampling — one scan, a distributed
    // top-n, no global sort ----
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedTopN(docs(s, dir), "doc_id", col("n_chars"), n = 200)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // ---- the stratified dual: 20 per source, weighted by n_chars —
    // balanced AND quality-weighted in one window pass ----
    "q_weighted_stratified" -> ((s, dir) =>
      Sampling.weightedTopNPerStratum(
          docs(s, dir), "source", "doc_id", col("n_chars"), n = 20)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("doc_id"))),

    // ---- the ESTIMATION contract of priority sampling
    // (Duffield-Lund-Thorup): the same 200-doc weighted draw plus
    // Horvitz-Thompson est_weight = max(w, 2^60 div p_(n+1)); the
    // est_weight SUM estimates the corpus's total weight from 200 rows
    // and must land in a pinned 15% envelope of the exact sum (measured
    // 9.4% at sf0.01, 7.5% at sf0.1). Every quantity is integer-exact,
    // so the oracle replays est_sum bit-for-bit — the envelope flag is
    // the unbiasedness claim, the est_sum hash is the determinism
    // claim ----
    "q_weighted_estimate" -> ((s, dir) => {
      val sampled = Sampling.weightedTopNWithEstimate(
        docs(s, dir), "doc_id", col("n_chars"), n = 200)
      val est = sampled.agg(
        count(lit(1)).as("n_sampled"),
        sum(col("est_weight")).as("est_sum"))
      val exact = docs(s, dir).agg(
        sum(greatest(col("n_chars").cast("long"), lit(1L))).as("exact_sum"))
      est.crossJoin(exact)
        .select(col("n_sampled"), col("est_sum"), col("exact_sum"),
          (abs(col("est_sum") - col("exact_sum")) * lit(100L) <=
            lit(15L) * col("exact_sum")).as("within_15pct"))
    }),

    // ---- the stratified estimation dual: 10 docs per source with a
    // PER-STRATUM Horvitz-Thompson threshold τ_s — each source's
    // est_sum is an unbiased estimate of that source's total weight,
    // and their sum estimates the corpus total. The per-source rows are
    // hash-matched (determinism claim); the envelope flag is on the
    // TOTAL, where single-stratum variance averages out across 20
    // sources (measured 8.6% worst-case at sf0.01, 6.1% at sf0.1 vs
    // the pinned 15%) ----
    "q_weighted_stratified_estimate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sampled = Sampling.weightedTopNPerStratumWithEstimate(
        docs(s, dir), "source", "doc_id", col("n_chars"), n = 10)
      val est = sampled.groupBy(col("source")).agg(
        count(lit(1)).as("n_sampled"),
        sum(col("est_weight")).as("est_sum"))
      val exact = docs(s, dir).groupBy(col("source")).agg(
        sum(greatest(col("n_chars").cast("long"), lit(1L))).as("exact_sum"))
      val wAll = Window.partitionBy()
      est.join(exact, "source")
        .withColumn("_te", sum(col("est_sum")).over(wAll))
        .withColumn("_tx", sum(col("exact_sum")).over(wAll))
        .select(col("source"), col("n_sampled"), col("est_sum"),
          col("exact_sum"),
          (abs(col("_te") - col("_tx")) * lit(100L) <=
            lit(15L) * col("_tx")).as("total_within_15pct"))
        .orderBy(col("source"))
    }),

    // ---- hybrid retrieval: BM25 top-20 and embedding-cosine top-20
    // fused by reciprocal rank (integer-exact floor(1e12/(60+rank))
    // contributions), top-10 per query — the fixture aligns doc_id and
    // vec_id, so vector query i IS the embedding of text query i's
    // corpus twin. The fused stage runs on |queries| x 40 rows however
    // big the corpus; each ranker keeps its own scale path ----
    "q_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (0L, "spark query engine"), (1L, "join filter window"),
        (2L, "customer order stream"), (3L, "table scan merge sort"))
        .toDF("query_id", "qtext")
      val textRank = Retrieval.bm25TopK(
          docs(s, dir).select(col("doc_id"), col("text")), qs, k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rnk"))
      val e = emb(s, dir)
      val vecRank = Similarity.topKBrute(e, e.filter(col("vec_id") < 4), k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rnk"))
      Retrieval.rrfFuse(Seq(textRank, vecRank), k = 10)
        .select(col("query_id"), col("rnk"), col("id"), col("rrf_score"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the FULL production retrieval stack: BM25 + embedding-cosine
    // fused by RRF (the q_hybrid_rrf pipeline), top-10 per query, then
    // the LTR rerank over the WHOLE shortlist (k = 10, no truncation).
    // The vector ranker nominates docs sharing NO query term, and at
    // k = 10 those rows EMIT: the reranker's zero-hit retention
    // (score 0, doc_id tie-break) is under the hash gate — the path
    // q_rerank's all-lexical shortlist cannot reach ----
    "q_rerank_hybrid" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (0L, "spark query engine"), (1L, "join filter window"),
        (2L, "customer order stream"), (3L, "table scan merge sort"))
        .toDF("query_id", "qtext")
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val textRank = Retrieval.bm25TopK(d, qs, k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rnk"))
      val e = emb(s, dir)
      val vecRank = Similarity.topKBrute(e, e.filter(col("vec_id") < 4), k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rnk"))
      val shortlist = Retrieval.rrfFuse(Seq(textRank, vecRank), k = 10)
        .select(col("query_id"), col("id").as("doc_id"))
      graft.ext.Rerank.rerank(shortlist, d, qs, k = 10)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the hybrid rerank with the SEMANTIC feature switched on
    // (VERDICT r18 item 5): same fused BM25 + brute-cosine + RRF
    // shortlist as q_rerank_hybrid, but the LTR scorer now folds in a
    // quantized-embedding integer-dot feature — vecWeight *
    // greatest(0, floor(qcos * 1000)) — so a vector-nominated candidate
    // sharing NO query term (rr_score 0 in q_rerank_hybrid, ordered
    // only by doc_id) now ORDERS by how much it means the same thing.
    // Quantization stats train on the doc-embedding corpus (the frozen-
    // quantizer contract), queries are corpus members 0-3 so their
    // codes replay from the same chain; the oracle replays retrieval,
    // fusion, text features AND the vec feature end-to-end ----
    "q_rerank_vec" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (0L, "spark query engine"), (1L, "join filter window"),
        (2L, "customer order stream"), (3L, "table scan merge sort"))
        .toDF("query_id", "qtext")
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val textRank = Retrieval.bm25TopK(d, qs, k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rnk"))
      val e = emb(s, dir)
      val vecRank = Similarity.topKBrute(e, e.filter(col("vec_id") < 4), k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rnk"))
      val shortlist = Retrieval.rrfFuse(Seq(textRank, vecRank), k = 10)
        .select(col("query_id"), col("id").as("doc_id"))
      graft.ext.Rerank.rerank(shortlist, d, qs, k = 10,
          docVecs = Some(e.select(col("vec_id").as("doc_id"), col("embedding"))),
          queryVecs = Some(e.filter(col("vec_id") < 4)
            .select(col("vec_id").as("query_id"), col("embedding"))))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the same stack with the quantization stats FROZEN from a
    // persisted SemDedupState (the serving shape: the per-call corpus
    // stats scan amortized into the state the dedup pipeline already
    // maintains). The state's stats member is dimStats over the same
    // corpus, so this row must reproduce q_rerank_vec's bits exactly —
    // its oracle IS q_rerank_vec's; any drift in the stats round-trip
    // or the vecStats plumbing hash-fails here ----
    "q_rerank_vec_frozen" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val st = Spool.once(s"semState#$dir") {
        val d = Spool.dir("graft-semstate") + "/state"
        graft.ext.SemDedupState.buildSaved(
          e.select(col("vec_id"), col("embedding")), d, nLists = 16)
      }
      val stats = graft.ext.SemDedupState.statsSaved(s, st)
      val qs = Seq(
        (0L, "spark query engine"), (1L, "join filter window"),
        (2L, "customer order stream"), (3L, "table scan merge sort"))
        .toDF("query_id", "qtext")
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val textRank = Retrieval.bm25TopK(d, qs, k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rnk"))
      val vecRank = Similarity.topKBrute(e, e.filter(col("vec_id") < 4), k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rnk"))
      val shortlist = Retrieval.rrfFuse(Seq(textRank, vecRank), k = 10)
        .select(col("query_id"), col("id").as("doc_id"))
      graft.ext.Rerank.rerank(shortlist, d, qs, k = 10,
          docVecs = Some(e.select(col("vec_id").as("doc_id"), col("embedding"))),
          queryVecs = Some(e.filter(col("vec_id") < 4)
            .select(col("vec_id").as("query_id"), col("embedding"))),
          vecStats = Some(stats))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- int8 scalar quantization of the embedding corpus; the gate
    // projects order-sensitive integer scalars of each code vector
    // (weighted sum + min/max) since the driver's sorter can't hash
    // arrays ----
    "q_embed_quantize" -> ((s, dir) =>
      graft.ext.Quantize.int8Codes(emb(s, dir))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("pos", "code")))
        .groupBy(col("vec_id"))
        .agg(sum(col("code") * (col("pos") + 1)).as("q_wsum"),
          min(col("code")).as("q_min"), max(col("code")).as("q_max"))
        .orderBy(col("vec_id"))),

    // ---- source-format breadth: the same corpus written to and read
    // back from ORC and headered CSV (explicit schema — inference is an
    // engine-specific behavior); identical aggregates prove the
    // round-trip is lossless in both formats ----
    "q_format_roundtrip" -> ((s, dir) => {
      val csvOpts = LosslessCsvOptions
      val tmp = Spool.once(s"fmt#$dir") {
        val d = Spool.dir("graft-fmt")
        val ds = docs(s, dir)
        ds.write.mode("overwrite").orc(s"$d/orc")
        ds.write.mode("overwrite").options(csvOpts).csv(s"$d/csv")
        d
      }
      val schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
      def agg(df: org.apache.spark.sql.DataFrame, fmt: String) =
        df.groupBy(lit(fmt).as("fmt"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(length(col("text"))).as("sum_text_len"))
      agg(s.read.orc(s"$tmp/orc"), "orc")
        .unionByName(agg(
          s.read.options(csvOpts + ("multiLine" -> "true")).schema(schema)
            .csv(s"$tmp/csv"), "csv"))
        .orderBy(col("fmt"))
    }),

    // ---- exact duplicate-span extraction: positions of corpus-repeated
    // word 5-grams merged into maximal per-doc spans — the
    // substring-dedup tier that cuts embedded boilerplate out of
    // otherwise-unique documents ----
    "q_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(docs(s, dir), n = 5)
        .orderBy(col("doc_id"), col("span_start"))),

    // ---- span-scrub application: duplicated spans cut OUT of each doc
    // (boilerplate excision, not whole-doc dropping); gated on a
    // word-count + md5 fingerprint of the rewritten text. The spans are
    // detected ONCE per dataset and applied here (the production shape —
    // detect, report, scrub from one computation); q_dup_spans measures
    // detection, this row measures application ----
    "q_scrub_spans" -> ((s, dir) =>
      Dedup.scrubSpans(docs(s, dir), n = 5, spans = Some(spansFor(s, dir)))
        .select(col("doc_id"), col("n_kept"), md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))),

    // ---- sequence packing: the concat-and-chunk layout pretraining
    // uses — per-source token streams cut into 256-token context
    // windows, docs spanning boundaries (no padding waste). Pure
    // integer window arithmetic ----
    "q_pack" -> ((s, dir) =>
      graft.ext.Packing.concatChunk(docs(s, dir), "source", c = 256)
        .orderBy(col("stream"), col("doc_id"))),

    // ---- the MATERIALIZED windows: one row per (stream, window, doc
    // slice) — the manifest a training loader actually consumes; pure
    // integer slice arithmetic over the same hierarchical offsets ----
    "q_pack_windows" -> ((s, dir) =>
      graft.ext.Packing.windows(docs(s, dir), "source", c = 256)
        .orderBy(col("stream"), col("bin"), col("doc_id"))),

    // ---- token-exact packing: the same concat-and-chunk layout with
    // the REAL BPE token counts (budget-true context windows) — the
    // whole tokenizer sits inside the packing gate ----
    "q_pack_bpe" -> ((s, dir) =>
      graft.ext.Packing.concatChunk(docs(s, dir), "source", c = 256,
          tokens = graft.ext.Bpe.tokenCount(col("text")))
        .orderBy(col("stream"), col("doc_id"))),

    // ---- document chunking: 64-token sliding windows advancing 48
    // tokens (16-token overlap), clamped at the doc end — the splitter
    // shape behind context-window corpora and RAG indexes. Map-side
    // only; the oracle replays the window arithmetic over the split ----
    "q_chunk" -> ((s, dir) =>
      graft.ext.Chunking.chunk(docs(s, dir), chunk = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- the chunk SPAN MANIFEST (the scale-path dual of q_chunk):
    // identical windows as byte-offset spans — 16 bytes per window
    // instead of a verbatim text copy, so the output is metadata-sized
    // while q_chunk's is ~(chunk/stride)x the corpus bytes (79x wall at
    // 100x on the r17 curve, adjudicated output-bound). The oracle
    // replays the window arithmetic AND the byte offsets (strlen over
    // the token prefix), so a one-byte drift in either kernel
    // hash-fails; ChunkingSpec pins the rebuild identity (slices at
    // the spans == q_chunk's text, bit-for-bit) ----
    "q_chunk_spans" -> ((s, dir) =>
      graft.ext.Chunking.spans(docs(s, dir), chunk = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- BM25 top-k retrieval: integer-scaled odds-ratio idf (same
    // log-free trade as q_top_terms), bounded query batch broadcast,
    // bounded-heap per-query top-k ----
    "q_bm25" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (0L, "spark query engine"), (1L, "join filter window"),
        (2L, "customer order stream"), (3L, "table scan merge sort"))
        .toDF("query_id", "qtext")
      Retrieval.bm25TopK(docs(s, dir).select(col("doc_id"), col("text")),
          qs, k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- retrieve -> rerank (the two-stage production pipeline): BM25
    // nominates k0=10 candidates per query, then the hand-feature LTR
    // reranker (ext/Rerank.scala — coverage, saturated tf, ordered
    // bigram hits, length saturation, all BIGINT) re-orders them to
    // k=5. Queries are the first-6-token prefixes of docs 0-3, so term
    // AND bigram features are live in the gate (a synthetic query batch
    // would zero the proximity feature and gate dead code). The oracle
    // replays BOTH stages ----
    "q_rerank" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val qs = d.where(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(col("text"), " ", -1), 1, 6)).as("qtext"))
      graft.ext.Rerank.rerank(
          Retrieval.bm25TopK(d, qs, k = 10), d, qs, k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the INJECTABLE-SCORER seam (VERDICT r19 item 4): the same
    // two-stage pipeline and shortlist as q_rerank, but the scoring
    // expression is swapped for a proximity-first formula over the five
    // canonical feature columns — the cross-encoder plug point, gated:
    // a swapped scorer must reorder the same shortlist through
    // unchanged plumbing (RerankSpec pins that the default path's bits
    // are untouched). Oracle = q_rerank's replay with only the rr
    // formula edited ----
    "q_rerank_swapped" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val qs = d.where(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(col("text"), " ", -1), 1, 6)).as("qtext"))
      graft.ext.Rerank.rerank(
          Retrieval.bm25TopK(d, qs, k = 10), d, qs, k = 5,
          scorer = Some(
            expr("(1000 * (16 * bigram_hits + matched)) div (20 + dl)")))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- BM25 from the PERSISTED inverted index (Retrieval.buildIndex
    // — the multi-query-session dual): the corpus byte scan runs ONCE at
    // build; this row loads postings/df/stats from parquet and scores
    // the same batch as q_bm25 with no text scan and no df aggregation.
    // Same oracle as q_bm25: corpus df ≡ candidate df (every doc
    // containing a term is a candidate for it), so the index path must
    // reproduce the inline path's bits exactly — any drift in the
    // persisted postings, the prebuilt df, or the save/load round trip
    // hash-fails here ----
    "q_bm25_indexed" -> ((s, dir) => {
      import s.implicits._
      val idx = Spool.once(s"bm25Idx#$dir") {
        val d = Spool.dir("graft-bm25idx") + "/idx"
        Retrieval.buildIndex(docs(s, dir).select(col("doc_id"), col("text")), d)
      }
      val qs = Seq(
        (0L, "spark query engine"), (1L, "join filter window"),
        (2L, "customer order stream"), (3L, "table scan merge sort"))
        .toDF("query_id", "qtext")
      Retrieval.bm25TopKIndexed(s, idx, qs, k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- the same scores again, through an index built on HALF the
    // corpus and GROWN with the other half via addToIndex — BM25 index
    // maintenance under the value gate: postings append one batch text
    // scan, df/stats rebuild from postings (idempotent, crash-healing),
    // and the grown index must reproduce q_bm25's bits exactly, so its
    // oracle IS q_bm25's ----
    "q_bm25_grown" -> ((s, dir) => {
      import s.implicits._
      val idx = Spool.once(s"bm25Idx#$dir#grown") {
        val d = Spool.dir("graft-bm25grown") + "/idx"
        val corpus = docs(s, dir).select(col("doc_id"), col("text"))
        Retrieval.buildIndex(corpus.where(col("doc_id") % 2 === 1), d,
          batchId = Some(0L)) // seed watermark vouches the build half
        // identified batch: the batch-id fast path (no dedupe scan of
        // the live index) must still produce q_bm25's exact bits
        Retrieval.addToIndex(s, d, corpus.where(col("doc_id") % 2 === 0),
          batchId = Some(1L))
        d
      }
      val qs = Seq(
        (0L, "spark query engine"), (1L, "join filter window"),
        (2L, "customer order stream"), (3L, "table scan merge sort"))
        .toDF("query_id", "qtext")
      Retrieval.bm25TopKIndexed(s, idx, qs, k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- STREAMING text ingest into the BM25 index, end-to-end under
    // the gate (q_stream_ivf_ingest's text-side sibling): a file-source
    // stream drains the corpus tail in micro-batches, each foreachBatch
    // body running addToIndex with the engine's micro-batch id — every
    // append commits postings, folds the df delta, and CAS-swings the
    // LinkedRoot, all under the at-least-once replay contract — and the
    // probe scores at the live root after the drain. Grown ≡ one-shot
    // bits, so q_bm25's oracle gates the whole streaming lifecycle ----
    "q_stream_bm25_ingest" -> ((s, dir) => {
      import s.implicits._
      val idx = Spool.once(s"bm25Idx#$dir#stream") {
        val root = Spool.dir("graft-bm25stream")
        val d = s"$root/idx"
        val corpus = docs(s, dir).select(col("doc_id"), col("text"))
        Retrieval.buildIndex(corpus.where(col("doc_id") % 4 === 0), d,
          batchId = Some(-1L)) // seed below the engine's first id (0)
        drainStream(s, root, corpus.where(col("doc_id") % 4 =!= 0),
          (df, b) => { Retrieval.addToIndex(s, d, df,
            batchId = Some(b)); () })
        d
      }
      val qs = Seq(
        (0L, "spark query engine"), (1L, "join filter window"),
        (2L, "customer order stream"), (3L, "table scan merge sort"))
        .toDF("query_id", "qtext")
      Retrieval.bm25TopKIndexed(s, idx, qs, k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- BM25 CORPUS-SCALE dual (the retrieval self-join shape, mirror
    // of q_cosine_ivfpq_selfjoin): EVERY doc probes the corpus with its
    // own first-8-token prefix as the query. broadcastQueries = false —
    // nothing query-sized broadcasts; both scoring joins shuffle on the
    // well-distributed `term` key. maxDf = 3000 is the quadratic-cost
    // valve (scaladoc on bm25TopK): INERT at the sf0.01 gate (fixture
    // max df 402, so the full scoring math is hash-gated), it cuts the
    // ~3900-doc posting lists at sf0.1+ where every-query-times-every-
    // posting would otherwise go quadratic. Surviving terms score
    // bit-identically to the uncapped run; the oracle replays prefix,
    // cap, and integer scoring exactly ----
    "q_bm25_selfjoin" -> ((s, dir) => {
      val d = docs(s, dir)
      val qs = d.select(col("doc_id").as("query_id"),
        array_join(slice(split(col("text"), " ", -1), 1, 8), " ").as("qtext"))
      Retrieval.bm25TopK(d.select(col("doc_id"), col("text")), qs, k = 3,
          broadcastQueries = false, maxDf = Some(3000L))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- bigram-LM quality scoring (CCNet-style filter): train on the
    // corpus, score every doc by integer-scaled mean inverse conditional
    // probability (the log-free perplexity stand-in). The trained model
    // is PINNED and the score joins run map-side (broadcastModel): the
    // model is vocabulary-bounded (Heaps) while the scored side is the
    // corpus, and LM_PROFILE_r17 measured the shuffled lookups costing
    // 27.6 s vs 16.7 s broadcast at 100x with identical rows. The
    // production contract this mirrors is CCNet's: the model is
    // REFERENCE-corpus-bounded (you train on Wikipedia, score the
    // 100 TB crawl) — a caller whose self-trained model may outgrow
    // executor memory keeps the default shuffled path ----
    "q_lm_score" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val pinned = LmScore.freeze(LmScore.train(d))
      LmScore.score(d, pinned, broadcastModel = true).orderBy(col("doc_id"))
    }),

    // ---- the FROZEN-MODEL production shape (the CCNet deployment
    // contract): train on a REFERENCE subset (every 10th doc), PERSIST
    // the model (LmScore.save — ngrams/contexts/vocab/params under one
    // linked-root publish), then score the whole corpus with the LOADED
    // model, joins map-side. Unlike q_lm_score (model == corpus, every
    // lookup hits), this row exercises the OOV path for real: 9/10 of
    // the corpus contributes unseen n-grams (cnt -> 0) and unseen
    // contexts (ctx -> 0), so the left-join + coalesce semantics and
    // the save/load round trip are both under the hash gate ----
    "q_lm_score_frozen" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val path = Spool.once(s"bm25Idx#$dir#lmfrozen") {
        val p = Spool.dir("graft-lmmodel") + "/model"
        LmScore.save(LmScore.train(d.where(col("doc_id") % 10 === 0)), p)
      }
      LmScore.score(d, LmScore.load(s, path), broadcastModel = true)
        .orderBy(col("doc_id"))
    }),

    // ---- Count-Min sketch: one-pass bounded-memory frequency
    // estimation (ext/Sketch.scala scaladoc for the scale contract —
    // d×w longs per partition, merge = element sums, NO vocab shuffle).
    // Counter sums are order-independent and the bucket hash is the
    // cross-engine hash60, so the ESTIMATES themselves are hash-gated
    // exactly: the oracle rebuilds the same matrix sparsely in SQL and
    // takes the same min-over-rows ----
    "q_cms" -> ((s, dir) => {
      val tc = docs(s, dir).select(
          explode(call_function("word_counts", col("text"))).as("tc"))
        .select(col("tc.term").as("term"), col("tc.cnt").cast("long").as("cnt"))
      val exact = tc.groupBy(col("term"))
        .agg(sum(col("cnt")).as("exact_count"))
      graft.ext.CountMin.estimates(exact,
          graft.ext.CountMin.sketch(tc, d = 4, w = 256), d = 4, w = 256)
        .select(col("term"), col("est_count"), col("exact_count"))
        .orderBy(col("term"))
    }),

    // ---- z-order key computation under the hash gate: domain-scaled
    // Morton interleave of (o_custkey, o_orderkey) — the layout key
    // behind multi-column file pruning (ext/Zorder.scala; ZorderSpec
    // proves both-dimension footer pruning on the written layout). The
    // Spark side scales by driver-probed min/max; the oracle derives
    // the same domains in SQL from the same table, so the exact key
    // values hash-gate cross-engine ----
    "q_zorder" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val row = o.agg(
        min(col("o_custkey")).cast("long"), max(col("o_custkey")).cast("long"),
        min(col("o_orderkey")).cast("long"), max(col("o_orderkey")).cast("long")
      ).head()
      graft.ext.Zorder.withKey(o,
          Seq(("o_custkey", row.getLong(0), row.getLong(1)),
              ("o_orderkey", row.getLong(2), row.getLong(3))), bits = 16)
        .select(col("o_orderkey"), col("_zkey").as("zkey"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- z-order PRUNING as a VALUE gate: write the DETERMINISTIC
    // bucketed z-layout (Zorder.bucketedWrite — fixed-width key buckets,
    // one file per bucket, replayable in SQL, unlike the sampled
    // range-partition bounds of clusteredWrite), then for three probes
    // (a narrow o_custkey range, a narrow o_orderkey range, and their
    // conjunction) run the engine's footer-stats skipping planner
    // (Zorder.statsPrune) and COUNT MATCHES READING ONLY THE SURVIVING
    // FILES. The oracle rebuilds the same bucket assignment in SQL and
    // computes which buckets' min/max intersect each probe: files_read
    // gates the planner's stats semantics, and match_cnt — counted from
    // the pruned read vs the oracle's full-table count — proves NO FALSE
    // SKIPS (a wrongly pruned file undercounts and hash-fails). The row
    // values themselves pin the payoff: each probe reads a fraction of
    // the 16 buckets on EITHER dimension ----
    "q_zorder_prune" -> ((s, dir) => {
      val (path, domains) = Spool.once(s"zorder#$dir") {
        val d = Spool.dir("graft-zprune") + "/orders_z"
        val doms = graft.ext.Zorder.bucketedWrite(
          t(s, dir, "orders"), d, Seq("o_custkey", "o_orderkey"),
          bits = 16, nBuckets = 16)
        (d, doms)
      }
      val Seq((_, lo1, hi1), (_, lo2, hi2)) = domains
      val (p1lo, p1hi) = { val sp = hi1 - lo1; val a = lo1 + sp / 4; (a, a + sp / 20) }
      val (p2lo, p2hi) = { val sp = hi2 - lo2; val a = lo2 + sp / 2; (a, a + sp / 20) }
      def probeRow(name: String, pr: Seq[(String, Long, Long)]): DataFrame = {
        val (total, sel) = graft.ext.Zorder.statsPrune(s, path, pr)
        val cnt = if (sel.isEmpty) 0L else
          s.read.parquet(sel: _*)
            .filter(pr.map { case (c, lo, hi) => col(c).between(lo, hi) }
              .reduce(_ && _))
            .count()
        import s.implicits._
        Seq((name, total.toLong, sel.size.toLong, cnt))
          .toDF("probe", "files_total", "files_read", "match_cnt")
      }
      probeRow("p_both", Seq(("o_custkey", p1lo, p1hi), ("o_orderkey", p2lo, p2hi)))
        .unionAll(probeRow("p_cust", Seq(("o_custkey", p1lo, p1hi))))
        .unionAll(probeRow("p_order", Seq(("o_orderkey", p2lo, p2hi))))
        .orderBy(col("probe"))
    }),

    // ---- z-order layout MAINTENANCE under the gate (the engine's
    // OPTIMIZE ZORDER, completing the grow-and-maintain contract for
    // the layout tier): a z-ordered ACID body takes three unordered
    // append batches (each tail file spans ~the whole key domain —
    // measured and pinned as tail_was_decayed), a replayed identified
    // batch no-ops, then maintainZordered folds the tail into
    // z-key-sorted files — body dirs untouched, live dirs back to
    // body + fold — and the fold's per-file footer span fraction on
    // BOTH interleaved dimensions is measured and pinned (the
    // q_hll_merge envelope pattern: a maintenance pass that stopped
    // sorting, dropped rows, or rewrote the body hash-fails a column).
    // Row values (count, key sum) prove the fold conserved data ----
    "q_zorder_maintained" -> ((s, dir) => {
      import graft.land.AtomicLanding
      val cols = Seq("o_custkey", "o_orderkey")
      val (path, decayed, foldDir) = Spool.once(s"zorderMaint#$dir") {
        val tbl = Spool.dir("graft-zmaint") + "/orders_zm"
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        graft.ext.Zorder.zorderedCommit(
          o.where(pmod(col("o_orderkey"), lit(4)) =!= 0), tbl, cols,
          bits = 16, nFiles = 8)
        for ((m, i) <- Seq(0L, 4L, 8L).zipWithIndex)
          graft.ext.Zorder.appendUnordered(
            o.where(pmod(col("o_orderkey"), lit(12)) === m), tbl, cols,
            bits = 16, batchId = Some(i + 1L))
        // at-least-once replay of the last identified batch: no-op
        graft.ext.Zorder.appendUnordered(
          o.where(pmod(col("o_orderkey"), lit(12)) === 8L), tbl, cols,
          bits = 16, batchId = Some(3L))
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          s.sparkContext.hadoopConfiguration)
        def dirBytes(d: String): Long = fs.getContentSummary(
          new org.apache.hadoop.fs.Path(s"$tbl/$d")).getLength
        val dirs0 = AtomicLanding.dirsOfVersion(tbl,
          AtomicLanding.currentVersion(tbl).get)
        val bodyDir = dirs0.maxBy(dirBytes)
        // decay evidence, measured BEFORE the fold: the unordered tail
        // files each span ~the whole domain on both dimensions
        val decay = cols.forall(c => graft.ext.Zorder.meanSpanFraction(
          s, dirs0.filterNot(_ == bodyDir).map(d => s"$tbl/$d"), c) > 0.5)
        val comp = graft.ext.Zorder.maintainZordered(s, tbl, cols,
          bits = 16, smallBytes = dirBytes(bodyDir) - 1, nFiles = 8)
        (tbl, decay, comp.foldDir.get)
      }
      val live = AtomicLanding.read(s, path)
      val nDirs = AtomicLanding.dirsOfVersion(path,
        AtomicLanding.currentVersion(path).get).size.toLong
      val locality = Seq("o_custkey", "o_orderkey").map(c =>
        graft.ext.Zorder.meanSpanFraction(
          s, Seq(s"$path/$foldDir"), c) <= 0.7d)
      import s.implicits._
      live.agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"))
        .select(col("n_rows"), col("key_sum"),
          lit(nDirs).as("n_live_dirs"),
          lit(decayed).as("tail_was_decayed"),
          lit(locality(0)).as("fold_cust_local"),
          lit(locality(1)).as("fold_order_local"))
    }),

    // ---- DDSketch-style log2 quantile histogram (ext/LogHistogram
    // .scala): ≤ 63-bucket bounded-memory mergeable quantile state —
    // the sketch complement to q_approx_quantile, whose built-in
    // summary is merge-order-dependent and so can never be value-gated.
    // bucket(x) = length(bin(x)) - 1 is pure integer in BOTH engines,
    // so the histogram itself is hash-gated exactly ----
    "q_loghist" -> ((s, dir) => {
      graft.ext.LogHistogram.sketch(
          docs(s, dir).select(
            size(split(col("text"), " ", -1)).cast("long").as("x")), "x")
        .orderBy(col("bucket"))
    }),

    // ---- quantile extraction from the log2 histogram: permille
    // thresholds in pure integer arithmetic (ceil(n·p/1000) = (n·p+999)
    // div 1000 — no doubles, no DECIMAL parsing trap), answers are
    // bucket lower bounds with the γ=2 relative-error contract ----
    "q_loghist_quantiles" -> ((s, dir) => {
      graft.ext.LogHistogram.quantiles(
          graft.ext.LogHistogram.sketch(
            docs(s, dir).select(
              size(split(col("text"), " ", -1)).cast("long").as("x")), "x"),
          Seq(500, 900, 990))
        .orderBy(col("permille"))
    }),

    // ---- CMS mergeability as a VALUE gate: two half-corpus sketches
    // (even/odd doc_id) summed element-wise must estimate identically
    // to the one-pass whole-corpus sketch — the property that lets
    // sketches build per-shard/per-day and union by addition. The
    // oracle replays the WHOLE-corpus sketch, so any merge defect
    // (misaligned cells, lost counts) hash-fails the row ----
    "q_cms_merge" -> ((s, dir) => {
      def tc(pred: org.apache.spark.sql.Column) = docs(s, dir).filter(pred).select(
          explode(call_function("word_counts", col("text"))).as("tc"))
        .select(col("tc.term").as("term"), col("tc.cnt").cast("long").as("cnt"))
      val skA = graft.ext.CountMin.sketch(tc(col("doc_id") % 2 === 0), 4, 256)
      val skB = graft.ext.CountMin.sketch(tc(col("doc_id") % 2 === 1), 4, 256)
      val merged = skA.crossJoin(skB.withColumnRenamed("cells", "cellsB"))
        .select(zip_with(col("cells"), col("cellsB"), _ + _).as("cells"))
      val vocab = tc(lit(true)).groupBy(col("term"))
        .agg(sum(col("cnt")).as("exact_count"))
      graft.ext.CountMin.estimates(vocab, merged, 4, 256)
        .select(col("term"), col("est_count"), col("exact_count"))
        .orderBy(col("term"))
    }),

    // ---- EXACT heavy hitters via the CMS two-pass workflow (see
    // Sketch.heavyHitters scaladoc): sketch prefilter map-side (est >=
    // exact -> zero false negatives), exact verification of candidates
    // only — the vocabulary-wide shuffle shrinks to the heavy tail.
    // Threshold = 2% of the token stream (total div 50, integer-exact);
    // the total comes FREE from the sketch's first row (each input row
    // lands in exactly one bucket per row), so no third corpus scan
    // sizes it. Output is exact, so the oracle is the plain SQL
    // threshold query ----
    "q_heavy_hitters" -> ((s, dir) => {
      val tc = docs(s, dir).select(
          explode(call_function("word_counts", col("text"))).as("tc"))
        .select(col("tc.term").as("term"), col("tc.cnt").cast("long").as("cnt"))
      graft.ext.CountMin.heavyHittersByFraction(tc, d = 4, w = 256,
          denom = 50L)
        .orderBy(col("term"))
    }),

    // ---- collocation extraction: integer-scaled PMI lift (the log is
    // monotone and libm logs are NOT cross-engine stable, so rank by
    // the scaled ratio instead) ----
    "q_collocations" -> ((s, dir) =>
      TextStats.collocations(docs(s, dir), minCount = 5L)
        .orderBy(col("lift_scaled").desc, col("w1").asc, col("w2").asc)
        .limit(20)),

    // ---- array-function breadth over the token arrays ----
    "q_array_funcs" -> ((s, dir) => {
      val w = TextOps.words(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        size(w).as("n"),
        size(array_distinct(w)).as("n_uniq"),
        concat_ws("|", slice(array_sort(w), 1, 3)).as("first3_sorted"),
        array_contains(w, "the").as("has_the"),
        reverse(element_at(w, 1)).as("rev_first"))
        .orderBy(col("doc_id"))
    }),
  )

  /** Exact all-pairs word-3gram Jaccard at threshold 0.6 — the oracle for
    * BOTH q_dedup_minhash and q_dedup_ngram (two candidate-generation
    * strategies, one exact answer). */
  private lazy val JaccardPairsOracle: String =
    """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
      |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) ic
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT doc_a, doc_b,
      |    cast(ic as double) / cast(ca.n + cb.n - ic as double) jaccard
      |  FROM inter JOIN cnt ca ON doc_a = ca.doc_id
      |             JOIN cnt cb ON doc_b = cb.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM j
      |WHERE jaccard >= cast(0.6 as double) ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB oracles. Shared determinism rules with the Spark side:
    * 60-bit md5 hashes, exact integer accumulation for dot products,
    * cast(int as double)/cast(int as double) ratios, explicit double
    * literals (DuckDB parses bare 0.6 as DECIMAL). */
  /** The q_bpe_trained oracle is generated from the LEARNED merge list,
    * which only exists after the query trains — so `oracles` is a def
    * that appends it at dump time ([[graft.Verify]] runs every query,
    * then dumps the SQL). If the query never ran the entry is OMITTED
    * (the driver then records a rows-only check for a result that does
    * not exist either) rather than crashing the whole oracle dump. */
  def oracles: Map[String, String] = staticOracles ++
    // indexed BM25 must reproduce the inline path's bits exactly
    // (corpus df ≡ candidate df over the query vocabulary), so its
    // oracle IS q_bm25's — aliased, not copied, so they cannot drift
    Map("q_bm25_indexed" -> staticOracles("q_bm25"),
      // the grown index's claim IS "same bits as the full-corpus
      // index", so it shares the same oracle too
      "q_bm25_grown" -> staticOracles("q_bm25"),
      // ...and so does the stream-grown index (micro-batched appends
      // with batch ids, probed at the live LinkedRoot)
      "q_stream_bm25_ingest" -> staticOracles("q_bm25"),
      // the stream-grown benchmark index must reproduce the one-shot
      // incremental index's bits on the same probe batch
      "q_stream_decon_ingest" ->
        staticOracles("q_decontaminate_incremental")) ++
    // single-dir contract: the trained oracle replays the LAST dir's
    // learned merges — pairing one dir's dump with another dir's merges
    // is only possible if a caller interleaves dirs before dumping,
    // which Verify's one-dir main never does. An EMPTY learned table
    // (pairless corpus — the legitimate identity tokenizer) has no
    // VALUES form, so the entry is omitted (rows-only downgrade for
    // that one row) rather than crashing the whole dump.
    trainedLast.filter(_.merges.nonEmpty).map(t =>
      "q_bpe_trained" -> bpeTokensOracle(bpeEncodeCtes(mergesValuesSql(t.merges))))

  private val staticOracles: Map[String, String] = Map(

    "q_dedup_exact" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 10000, text FROM documents)
        |SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS canonical_id
        |FROM d GROUP BY md5(text) ORDER BY canonical_id""".stripMargin,

    "q_dedup_minhash" -> JaccardPairsOracle,
    // same exact answer, restricted to the query's bounded slice
    "q_dedup_ngram" -> JaccardPairsOracle.replace(
      "w FROM documents", "w FROM documents WHERE doc_id < 1000"),

    "q_dedup_simhash" ->
      """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh0 AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |shl AS (SELECT doc_id, list(s) sl FROM sh0 GROUP BY doc_id),
        |hx AS (SELECT doc_id,
        |         list_transform(sl, t -> cast(('0x'||substr(md5(t),1,15)) as bigint)) hs
        |       FROM shl),
        |sg AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0,60), j ->
        |      CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1)*2 - 1)) > 0
        |           THEN cast(1 as bigint) << j ELSE cast(0 as bigint) END)) sim
        |  FROM hx)
        |SELECT a.doc_id doc_a, b.doc_id doc_b,
        |       bit_count(xor(a.sim, b.sim)) hamming
        |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id, lang,
        |  len(string_split(text,' ')) AS n_tok,
        |  len(list_distinct(string_split(text,' '))) AS n_uniq,
        |  cast(list_sum(list_transform(string_split(text,' '), t -> length(t))) as bigint) AS tok_chars,
        |  cast(len(list_filter(string_split(text,' '),
        |        t -> t in ('the','a','of','and','in','to'))) as double)
        |    / cast(len(string_split(text,' ')) as double) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_profile" -> {
      val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_total,
           |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
           |  min(cast($c as varchar)) AS min_s, max(cast($c as varchar)) AS max_s
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "q_dedup_incremental" ->
      """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id corpus_id, b.doc_id new_id, count(*) ic
        |          FROM sh a JOIN sh b ON a.s = b.s
        |          WHERE a.doc_id < 250 AND b.doc_id >= 250
        |          GROUP BY 1, 2),
        |j AS (SELECT corpus_id, new_id,
        |        cast(ic as double) / cast(ca.n + cb.n - ic as double) jaccard
        |      FROM inter JOIN cnt ca ON corpus_id = ca.doc_id
        |                 JOIN cnt cb ON new_id = cb.doc_id)
        |SELECT corpus_id, new_id, jaccard FROM j
        |WHERE jaccard >= cast(0.6 as double)
        |ORDER BY corpus_id, new_id""".stripMargin,

    "q_hash_sample" ->
      """SELECT source, count(*) AS n_sampled, min(doc_id) AS first_id
        |FROM documents
        |WHERE cast('0x'||substr(md5(cast(doc_id as varchar)),1,15) as bigint) % 100 < 10
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_bpe_tokens" -> BpeTokensOracle,
    "q_pack_bpe" -> PackBpeOracle,

    "q_acid_timetravel" ->
      """SELECT cast(0 as bigint) AS version, count(*) AS n_rows FROM documents
        |UNION ALL
        |SELECT cast(1 as bigint), cast(count(*) + sum(CASE WHEN doc_id % 2 = 0
        |  THEN 1 ELSE 0 END) as bigint) FROM documents
        |ORDER BY version""".stripMargin,

    // the maintained aggregate must equal the v2 truth re-derived from
    // the raw table: final state = docs >= 15 at length(text), 10..14
    // at -1, plus 5 shifted -2 rows; nn_n == cnt (n never null here)
    "q_acid_incragg" ->
      """WITH st AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id >= 10 AND doc_id < 15 THEN -1
        |         ELSE length(text) END AS n
        |  FROM documents WHERE doc_id >= 10
        |  UNION ALL
        |  SELECT doc_id + 30000, -2 FROM documents WHERE doc_id < 5)
        |SELECT doc_id % 7 AS grp, cast(count(*) as bigint) AS cnt,
        |  cast(count(*) as bigint) AS nn_n, cast(sum(n) as bigint) AS sum_n
        |FROM st GROUP BY 1 ORDER BY grp""".stripMargin,

    // min/max over the same final state
    "q_acid_incragg_minmax" ->
      """WITH st AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id >= 10 AND doc_id < 15 THEN -1
        |         ELSE length(text) END AS n
        |  FROM documents WHERE doc_id >= 10
        |  UNION ALL
        |  SELECT doc_id + 30000, -2 FROM documents WHERE doc_id < 5)
        |SELECT doc_id % 7 AS grp, cast(count(*) as bigint) AS cnt,
        |  cast(min(n) as bigint) AS min_n, cast(max(n) as bigint) AS max_n
        |FROM st GROUP BY 1 ORDER BY grp""".stripMargin,

    // the change feed re-derived from the raw table: the append span is
    // all inserts (docs 10..19); the merge span is update image pairs
    // for 10..14 plus the 5 shifted-key inserts
    "q_acid_cdf" ->
      """SELECT * FROM (
        |  SELECT 'v0_v1' AS span, 'insert' AS change_type, doc_id,
        |    cast(length(text) as bigint) AS n
        |  FROM documents WHERE doc_id >= 10 AND doc_id < 20
        |  UNION ALL
        |  SELECT 'v1_v2', 'update_pre', doc_id, cast(length(text) as bigint)
        |  FROM documents WHERE doc_id >= 10 AND doc_id < 15
        |  UNION ALL
        |  SELECT 'v1_v2', 'update_post', doc_id, cast(-1 as bigint)
        |  FROM documents WHERE doc_id >= 10 AND doc_id < 15
        |  UNION ALL
        |  SELECT 'v1_v2', 'insert', doc_id + 30000, cast(-2 as bigint)
        |  FROM documents WHERE doc_id < 5
        |) ORDER BY span, change_type, doc_id""".stripMargin,

    // evolveSchema append: old rows surface the new column as NULL, new
    // rows carry exact values, v0 history stays 2 columns wide
    "q_acid_evolve" ->
      """SELECT cast(count(*) as bigint) AS n_rows,
        |  cast(sum(CASE WHEN doc_id >= 10 THEN 1 ELSE 0 END) as bigint)
        |    AS n_missing,
        |  cast(sum(CASE WHEN doc_id < 10 THEN length(text) ELSE 0 END)
        |    as bigint) AS sum_new,
        |  cast(2 as bigint) AS n_v0_cols
        |FROM documents""".stripMargin,

    // append + compact + full vacuum: rows intact, zero superseded left
    "q_acid_vacuum" ->
      """SELECT count(*) AS n_rows, count(DISTINCT doc_id) AS n_ids,
        |  cast(0 as bigint) AS n_superseded
        |FROM documents""".stripMargin,

    // four appended quarters compacted to ONE live dir, no row lost
    "q_acid_compact" ->
      """SELECT count(*) AS n_rows, count(DISTINCT doc_id) AS n_ids,
        |  cast(1 as bigint) AS n_live_dirs
        |FROM documents""".stripMargin,

    // post-merge state: ids < 100 rewritten to the -1 sentinel, 50 fresh
    // shifted keys appended at -2, everything else untouched
    "q_acid_merge" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id < 100 THEN -1 ELSE length(text) END AS n
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 20000, -2 FROM documents WHERE doc_id < 50
        |ORDER BY doc_id""".stripMargin,

    // same post-merge state as q_acid_merge — the pruned rewrite must be
    // row-identical — plus the carried-dir count (3 carried + 1 rewrite)
    "q_acid_merge_pruned" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id < 100 THEN -1 ELSE length(text) END AS n,
        |  cast(4 as bigint) AS n_live_dirs
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 20000, -2, cast(4 as bigint) FROM documents
        |WHERE doc_id < 50
        |ORDER BY doc_id""".stripMargin,

    "q_acid_delete_pruned" ->
      """SELECT doc_id, length(text) AS n, cast(4 as bigint) AS n_live_dirs
        |FROM documents
        |WHERE NOT (doc_id >= 125 AND doc_id < 250 AND doc_id % 2 = 1)
        |ORDER BY doc_id""".stripMargin,

    "q_acid_clone" ->
      """SELECT doc_id, length(text) AS n,
        |  (SELECT count(*) FROM documents) AS n_src_rows
        |FROM documents
        |WHERE NOT (doc_id < 250 AND doc_id % 2 = 1)
        |ORDER BY doc_id""".stripMargin,

    "q_acid_retention" ->
      """SELECT
        |  (SELECT count(*) FROM documents WHERE doc_id % 4 IN (0, 1)) AS n_v1,
        |  (SELECT count(*) FROM documents WHERE doc_id % 4 IN (0, 1, 2)) AS n_v2,
        |  (SELECT count(*) FROM documents WHERE doc_id % 4 IN (0, 1, 2)) AS n_v3,
        |  true AS v0_reclaimed""".stripMargin,

    // per-run row counts re-derived from the transactional snapshot:
    // each batch i ingested documents with doc_id % 3 = i under
    // exec_id 'e<i>' / asset_id 100+i
    "q_txn_ingest" ->
      """SELECT 'e' || (doc_id % 3) AS exec_id,
        |       cast(100 + (doc_id % 3) as int) AS asset_id,
        |       count(*) AS n_rows
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY exec_id""".stripMargin,

    "q_acid_read_pruned" ->
      """SELECT doc_id, length(text) AS n, cast(1 as bigint) AS n_planned_dirs
        |FROM documents
        |WHERE doc_id BETWEEN 130 AND 240
        |ORDER BY doc_id""".stripMargin,

    "q_acid_cdf_delete" ->
      """SELECT 'delete' AS change_type, doc_id, length(text) AS n
        |FROM documents
        |WHERE doc_id >= 125 AND doc_id < 250 AND doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,

    "q_top_terms" ->
      """WITH wl AS (SELECT doc_id, string_split(text,' ') t FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) tf
        |       FROM (SELECT doc_id, unnest(t) tok FROM wl) GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) nd FROM documents),
        |s AS (SELECT doc_id, tok,
        |        cast((tf * nd * 1000000) // df as bigint) score,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY (tf * nd * 1000000) // df DESC, tok ASC) rnk
        |      FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, rnk, tok AS term, score AS score_scaled
        |FROM s WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q_shard" ->
      """SELECT cast('0x'||substr(md5(cast(doc_id as varchar)),1,15) as bigint) % 8 AS shard,
        |       count(*) AS n_rows,
        |       bit_xor(cast('0x'||substr(md5(text),1,15) as bigint)) AS content_fp
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,

    "q_decontaminate" ->
      """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |c AS (SELECT * FROM sh WHERE doc_id >= 10),
        |b AS (SELECT doc_id bench_id, s FROM sh WHERE doc_id < 10)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
        |FROM c JOIN b ON c.s = b.s
        |GROUP BY 1, 2 HAVING count(*) >= 10
        |ORDER BY doc_id, bench_id""".stripMargin,

    // identical answer through the persisted-benchmark-index batch
    // plan, restricted to the batch slice: the index carries exactly
    // the benchmark shingles, so a batch probe equals the inline join
    "q_decontaminate_incremental" ->
      """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |c AS (SELECT * FROM sh WHERE doc_id >= 10 AND doc_id % 7 = 0),
        |b AS (SELECT doc_id bench_id, s FROM sh WHERE doc_id < 10)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
        |FROM c JOIN b ON c.s = b.s
        |GROUP BY 1, 2 HAVING count(*) >= 10
        |ORDER BY doc_id, bench_id""".stripMargin,

    // identical answer through the persisted-sketch incremental plan:
    // same batch slice as q_decontaminate_incremental
    "q_decontaminate_inc_bloom" ->
      """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |c AS (SELECT * FROM sh WHERE doc_id >= 10 AND doc_id % 7 = 0),
        |b AS (SELECT doc_id bench_id, s FROM sh WHERE doc_id < 10)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
        |FROM c JOIN b ON c.s = b.s
        |GROUP BY 1, 2 HAVING count(*) >= 10
        |ORDER BY doc_id, bench_id""".stripMargin,

    // identical answer through the bloom-prefiltered plan: the sketch is
    // a superset filter, the exact join removes its false positives
    "q_decontaminate_bloom" ->
      """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |c AS (SELECT * FROM sh WHERE doc_id >= 10),
        |b AS (SELECT doc_id bench_id, s FROM sh WHERE doc_id < 10)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
        |FROM c JOIN b ON c.s = b.s
        |GROUP BY 1, 2 HAVING count(*) >= 10
        |ORDER BY doc_id, bench_id""".stripMargin,

    "q_repetition" ->
      """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |r AS (SELECT doc_id, w, greatest(len(w)-2, 1) AS tot,
        |        len(list_distinct(list_transform(range(1, greatest(len(w)-1, 2)),
        |            i -> array_to_string(w[i:i+2],' ')))) AS uniq
        |      FROM words)
        |SELECT doc_id,
        |  cast(len(w) - len(list_distinct(w)) as double)
        |    / cast(len(w) as double) AS word_rep,
        |  cast(tot - uniq as double) / cast(tot as double) AS ngram_rep
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '), t -> t in ('the','a','of','and'))) c_en,
        |    len(list_filter(string_split(text,' '), t -> t in ('der','die','das','und'))) c_de,
        |    len(list_filter(string_split(text,' '), t -> t in ('el','los','una','y'))) c_es,
        |    len(list_filter(string_split(text,' '), t -> t in ('le','les','une','et'))) c_fr
        |  FROM documents),
        |p AS (
        |  SELECT lang, CASE
        |    WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en > 0 THEN 'en'
        |    WHEN c_de >= c_es AND c_de >= c_fr AND c_de > 0 THEN 'de'
        |    WHEN c_es >= c_fr AND c_es > 0 THEN 'es'
        |    WHEN c_fr > 0 THEN 'fr'
        |    ELSE 'und' END pred_lang
        |  FROM c)
        |SELECT lang, pred_lang, count(*) AS n
        |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        |  cast(0.4 as double)
        |    * least(cast(len(regexp_extract_all(text, '\S+')) as double)
        |              / cast(100.0 as double), cast(1.0 as double))
        |  + cast(0.3 as double)
        |    * (cast(1.0 as double)
        |       - cast(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) as double)
        |           / cast(length(text) as double))
        |  + cast(0.3 as double)
        |    * least(cast(len(list_filter(string_split(text,' '),
        |               t -> t in ('the','a','of','and','in','to'))) as double)
        |              / cast(len(string_split(text,' ')) as double)
        |              * cast(5.0 as double), cast(1.0 as double)) AS score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_token_hist" ->
      """SELECT len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) // 10 AS bucket,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(lower(text)) AS fp_md5,
        |  list_reduce(list_prepend(cast(0 as bigint),
        |    list_transform(string_split(text,' '),
        |      t -> cast(('0x'||substr(md5(t),1,15)) as bigint) % 1000003)),
        |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS fp_roll
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_cosine_topk" -> CosineTopkOracle,
    "q_cosine_topk_agg" -> CosineTopkOracle,

    // hard-negative mining: exact cosine ranking over corpus + planted
    // 1.01x anchor copies, band-filtered below the dup threshold
    "q_hard_negatives" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(1.01 as double) as float))
        |  FROM embeddings WHERE vec_id < 10),
        |n AS (
        |  SELECT vec_id, list_sum(list_transform(embedding,
        |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
        |  FROM base),
        |t AS (
        |  SELECT q.vec_id qid, e.vec_id cid,
        |         list_sum(list_transform(list_zip(q.embedding, e.embedding),
        |           p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
        |  FROM base q JOIN base e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |s AS (
        |  SELECT qid, cid,
        |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
        |  FROM t JOIN n nq ON nq.vec_id = t.qid JOIN n nc ON nc.vec_id = t.cid),
        |r AS (SELECT qid AS anchor_id, cid AS neighbor_id, cos_sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) rnk
        |      FROM s WHERE cos_sim < cast(0.95 as double))
        |SELECT anchor_id, rnk, neighbor_id, cos_sim FROM r WHERE rnk <= 5
        |ORDER BY anchor_id, rnk""".stripMargin,

    // the composed path: IVF probe (float-dot assignment + nProbe=4
    // routing, q_cosine_ivf's replay recipe) with k0=10 headroom, then
    // the band filter + re-rank
    "q_hard_negatives_ivf" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000,
         |    list_transform(embedding,
         |      x -> cast(cast(x as double) * cast(1.01 as double) as float))
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (
         |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) AS cid,
         |         embedding AS cvec
         |  FROM (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT 16)),
         |ad AS (
         |  SELECT e.vec_id, c.cid, ${sqlDot("e.embedding", "c.cvec")} dot
         |  FROM base e CROSS JOIN c),
         |asn AS (
         |  SELECT vec_id AS neighbor_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) rn
         |    FROM ad) WHERE rn = 1),
         |pr AS (
         |  SELECT query_id, cid FROM (
         |    SELECT vec_id AS query_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) rn
         |    FROM ad WHERE vec_id < 10) WHERE rn <= 4),
         |n AS (
         |  SELECT vec_id, list_sum(list_transform(embedding,
         |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
         |  FROM base),
         |t AS (
         |  SELECT pr.query_id qid, asn.neighbor_id cid,
         |         ${sqlDot("q.embedding", "e.embedding")} dots
         |  FROM pr JOIN asn ON asn.cid = pr.cid AND asn.neighbor_id <> pr.query_id
         |          JOIN base q ON q.vec_id = pr.query_id
         |          JOIN base e ON e.vec_id = asn.neighbor_id),
         |s AS (
         |  SELECT qid, cid,
         |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
         |  FROM t JOIN n nq ON nq.vec_id = t.qid JOIN n nc ON nc.vec_id = t.cid),
         |short AS (SELECT qid, cid, cos_sim FROM (
         |    SELECT qid, cid, cos_sim,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) rnk
         |    FROM s) WHERE rnk <= 10),
         |r AS (SELECT qid AS anchor_id, cid AS neighbor_id, cos_sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) rnk
         |      FROM short WHERE cos_sim < cast(0.95 as double))
         |SELECT anchor_id, rnk, neighbor_id, cos_sim FROM r WHERE rnk <= 5
         |ORDER BY anchor_id, rnk""".stripMargin,
    "q_cosine_ivf_exact" -> CosineTopkOracle,
    "q_cosine_ann_exact" -> CosineTopkOracle,
    "q_cosine_ann" -> CosineAnnOracle,
    "q_cosine_ivf" -> CosineIvfOracle,
    // the grown index's claim IS "same bits as the one-shot full-corpus
    // build" (frozen seed quantizer + deterministic assignment), so the
    // same replay oracle gates it
    "q_cosine_ivf_grown" -> CosineIvfOracle,
    // streamed growth ≡ ACID growth ≡ one-shot build (frozen quantizer,
    // iters = 0): the same replay oracle gates the streaming lifecycle
    "q_stream_ivf_ingest" -> CosineIvfOracle,
    // rebalanced ≡ one-shot (deterministic re-seed from the current
    // corpus): the same replay oracle gates major maintenance
    "q_cosine_ivf_rebalanced" -> CosineIvfOracle,
    "q_cosine_pq" -> CosinePqOracle,

    // the trained-quantizer envelope rows: the oracle replays the exact
    // fields (query-set size, k) and pins the measured-recall flag TRUE —
    // see the q_cosine_ivf_trained query comment for the envelope sizing
    "q_cosine_ivf_trained" ->
      """SELECT cast(count(*) as bigint) AS n_queries,
        | cast(10 as bigint) AS k, TRUE AS recall_in_envelope
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    "q_cosine_pq_trained" ->
      """SELECT cast(count(*) as bigint) AS n_queries,
        | cast(10 as bigint) AS k, TRUE AS recall_in_envelope
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    "q_cosine_ivfpq_trained" ->
      """SELECT cast(count(*) as bigint) AS n_queries,
        | cast(10 as bigint) AS k, TRUE AS recall_in_envelope
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    "q_cosine_ivfpq" -> CosineIvfPqOracle,
    // grown ≡ one-shot (frozen quantizers, per-vector determinism):
    // the same replay oracle gates the ACID-grown compressed index
    "q_cosine_ivfpq_grown" -> CosineIvfPqOracle,
    "q_cosine_ivfpq_rebalanced" -> CosineIvfPqOracle,
    // streamed growth ≡ ACID growth ≡ one-shot build (frozen coarse +
    // residual quantizers): the same replay oracle gates the streaming
    // lifecycle of the compressed index
    "q_stream_ivfpq_ingest" -> CosineIvfPqOracle,
    // same replay, query set = the whole corpus (the self-join shape) —
    // the physical-strategy difference (salted shuffle joins vs
    // broadcast probes) is invisible to the replayed values
    "q_cosine_ivfpq_selfjoin" -> cosineIvfPqOracleFor("vec_id >= 0"),

    // CosineTopkOracle restricted to the 200-vector gate slice
    "q_cosine_pq_exact" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |n AS (
        |  SELECT vec_id, list_sum(list_transform(embedding,
        |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
        |  FROM u),
        |t AS (
        |  SELECT q.vec_id qid, e.vec_id cid,
        |         list_sum(list_transform(list_zip(q.embedding, e.embedding),
        |           p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
        |  FROM u q JOIN u e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |s AS (
        |  SELECT qid, cid,
        |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
        |  FROM t JOIN n nq ON nq.vec_id = t.qid JOIN n nc ON nc.vec_id = t.cid),
        |r AS (SELECT qid AS query_id, cid AS neighbor_id, cos_sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) rnk
        |      FROM s)
        |SELECT query_id, rnk, neighbor_id, cos_sim FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    "q_embed_normalize" ->
      """WITH d AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(2.0 as double) as float)) e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(cast(list_sum(list_transform(e,
        |      x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) as double)
        |      / 1e15) nrm
        |  FROM d),
        |u0 AS (SELECT vec_id,
        |    list_transform(e, x -> cast(cast(x as double) / nrm as float)) ne
        |  FROM n)
        |SELECT vec_id,
        |  cast(list_sum(list_transform(ne,
        |    x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) as bigint)
        |    AS unit_dot
        |FROM u0 ORDER BY vec_id""".stripMargin,

    "q_embed_neardup" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(1.01 as double) as float))
        |  FROM embeddings),
        |n AS (SELECT vec_id, list_sum(list_transform(embedding,
        |        x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
        |      FROM u),
        |d AS (SELECT a.vec_id va, b.vec_id vb,
        |        list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
        |      FROM u a JOIN u b ON a.vec_id < b.vec_id),
        |c AS (SELECT va vec_a, vb vec_b,
        |        cast(dots as double)/sqrt(cast(na.n2 as double)*cast(nb.n2 as double)) cos_sim
        |      FROM d JOIN n na ON na.vec_id = va JOIN n nb ON nb.vec_id = vb)
        |SELECT vec_a, vec_b, cos_sim FROM c
        |WHERE cos_sim >= cast(0.9 as double) ORDER BY vec_a, vec_b""".stripMargin,

    // exact all-pairs + recursive-CTE closure: component(v) = min
    // reachable id (incl. self), census per component
    "q_embed_cluster" -> EmbedClusterOracle,
    // incremental ≡ one-shot (contraction exactness + per-vector band
    // identity): the same census oracle gates the persisted grown state
    "q_embed_cluster_grown" -> EmbedClusterOracle,
    // ... and the STREAMED state (union-of-edges order independence)
    "q_stream_cluster_ingest" -> EmbedClusterOracle,


    // exact all-CROSS-pairs oracle: every (corpus, batch) cosine, no
    // corpus self-pairs — same scaled-integer dot recipe as neardup
    "q_embed_neardup_incremental" ->
      """WITH b AS (
        |  SELECT vec_id + 10000 AS vec_id,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(1.01 as double) as float)) embedding
        |  FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id, embedding FROM embeddings),
        |nb AS (SELECT vec_id, list_sum(list_transform(embedding,
        |        x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
        |      FROM b),
        |nc AS (SELECT vec_id, list_sum(list_transform(embedding,
        |        x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
        |      FROM c),
        |d AS (SELECT c.vec_id corpus_id, b.vec_id batch_id,
        |        list_sum(list_transform(list_zip(c.embedding, b.embedding),
        |          p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
        |      FROM c CROSS JOIN b),
        |s AS (SELECT corpus_id, batch_id,
        |        cast(dots as double)/sqrt(cast(nc.n2 as double)*cast(nb.n2 as double)) cos_sim
        |      FROM d JOIN nc ON nc.vec_id = corpus_id JOIN nb ON nb.vec_id = batch_id)
        |SELECT corpus_id, batch_id, cos_sim FROM s
        |WHERE cos_sim >= cast(0.9 as double)
        |ORDER BY corpus_id, batch_id""".stripMargin,

    // full SemDeDup replay: int8 quantization (the q_embed_quantize
    // chain), first-16-seed assignment by quantized cosine (integer
    // dots — exact cross-engine), within-cluster pairs, min-id witness
    "q_semantic_dedup" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(1.01 as double) as float))
        |  FROM embeddings WHERE vec_id < 50),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |stats AS (
        |  SELECT d, min(cast(embedding[d] as double)) AS mn,
        |         max(cast(embedding[d] as double)) AS mx
        |  FROM base CROSS JOIN dims GROUP BY d),
        |codes AS (
        |  SELECT b.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE cast(floor((cast(b.embedding[s.d] as double) - s.mn)
        |                * cast(254 as double) / (s.mx - s.mn)) as bigint) - 127
        |    END AS code
        |  FROM base b CROSS JOIN stats s),
        |cv AS (SELECT vec_id, list(code ORDER BY d) AS c FROM codes GROUP BY vec_id),
        |n2 AS (SELECT vec_id, cast(list_sum(list_transform(c, x -> x*x)) as bigint) AS n2 FROM cv),
        |cent AS (
        |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) AS cid,
        |         c AS cvec
        |  FROM (SELECT vec_id, c FROM cv ORDER BY vec_id LIMIT 16)),
        |cn AS (SELECT cid, cast(list_sum(list_transform(cvec, x -> x*x)) as bigint) AS cn2 FROM cent),
        |ad AS (
        |  SELECT cv.vec_id, cent.cid,
        |    cast(list_sum(list_transform(range(1,65), i -> cv.c[i] * cent.cvec[i])) as bigint) AS dot
        |  FROM cv CROSS JOIN cent),
        |asn AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT ad.vec_id, ad.cid,
        |      row_number() OVER (PARTITION BY ad.vec_id ORDER BY
        |        CASE WHEN n2.n2 = 0 OR cn.cn2 = 0 THEN cast(-2 as double)
        |             ELSE cast(ad.dot as double)/sqrt(cast(n2.n2 as double)*cast(cn.cn2 as double)) END DESC,
        |        ad.cid ASC) rn
        |    FROM ad JOIN n2 ON n2.vec_id = ad.vec_id JOIN cn ON cn.cid = ad.cid) WHERE rn = 1),
        |p AS (
        |  SELECT a.vec_id va, b.vec_id vb,
        |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN cast(-2 as double)
        |         ELSE cast(list_sum(list_transform(range(1,65), i -> ca.c[i]*cb.c[i])) as double)
        |              / sqrt(cast(na.n2 as double)*cast(nb.n2 as double)) END AS qcos
        |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN cv ca ON ca.vec_id = a.vec_id JOIN cv cb ON cb.vec_id = b.vec_id
        |  JOIN n2 na ON na.vec_id = a.vec_id JOIN n2 nb ON nb.vec_id = b.vec_id),
        |dup AS (SELECT vb AS vec_id, min(va) AS dup_witness FROM p
        |        WHERE qcos >= cast(0.9 as double) GROUP BY vb)
        |SELECT asn.vec_id, asn.cid,
        |  cast(coalesce(dup.dup_witness, -1) as bigint) AS dup_of,
        |  dup.dup_witness IS NULL AS kept
        |FROM asn LEFT JOIN dup USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // the drift-gated rebuild: after the probe fires and buildSaved
    // reruns at the same path, the state IS a one-shot build over the
    // full (seed + 3x-scaled tail) corpus — same replay as
    // q_semantic_dedup with the rebuilt base
    "q_semantic_dedup_rebuilt" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
        |  UNION ALL
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(3.0 as double) as float))
        |  FROM embeddings WHERE vec_id >= 200),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |stats AS (
        |  SELECT d, min(cast(embedding[d] as double)) AS mn,
        |         max(cast(embedding[d] as double)) AS mx
        |  FROM base CROSS JOIN dims GROUP BY d),
        |codes AS (
        |  SELECT b.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE cast(floor((cast(b.embedding[s.d] as double) - s.mn)
        |                * cast(254 as double) / (s.mx - s.mn)) as bigint) - 127
        |    END AS code
        |  FROM base b CROSS JOIN stats s),
        |cv AS (SELECT vec_id, list(code ORDER BY d) AS c FROM codes GROUP BY vec_id),
        |n2 AS (SELECT vec_id, cast(list_sum(list_transform(c, x -> x*x)) as bigint) AS n2 FROM cv),
        |cent AS (
        |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) AS cid,
        |         c AS cvec
        |  FROM (SELECT vec_id, c FROM cv ORDER BY vec_id LIMIT 16)),
        |cn AS (SELECT cid, cast(list_sum(list_transform(cvec, x -> x*x)) as bigint) AS cn2 FROM cent),
        |ad AS (
        |  SELECT cv.vec_id, cent.cid,
        |    cast(list_sum(list_transform(range(1,65), i -> cv.c[i] * cent.cvec[i])) as bigint) AS dot
        |  FROM cv CROSS JOIN cent),
        |asn AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT ad.vec_id, ad.cid,
        |      row_number() OVER (PARTITION BY ad.vec_id ORDER BY
        |        CASE WHEN n2.n2 = 0 OR cn.cn2 = 0 THEN cast(-2 as double)
        |             ELSE cast(ad.dot as double)/sqrt(cast(n2.n2 as double)*cast(cn.cn2 as double)) END DESC,
        |        ad.cid ASC) rn
        |    FROM ad JOIN n2 ON n2.vec_id = ad.vec_id JOIN cn ON cn.cid = ad.cid) WHERE rn = 1),
        |p AS (
        |  SELECT a.vec_id va, b.vec_id vb,
        |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN cast(-2 as double)
        |         ELSE cast(list_sum(list_transform(range(1,65), i -> ca.c[i]*cb.c[i])) as double)
        |              / sqrt(cast(na.n2 as double)*cast(nb.n2 as double)) END AS qcos
        |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN cv ca ON ca.vec_id = a.vec_id JOIN cv cb ON cb.vec_id = b.vec_id
        |  JOIN n2 na ON na.vec_id = a.vec_id JOIN n2 nb ON nb.vec_id = b.vec_id),
        |dup AS (SELECT vb AS vec_id, min(va) AS dup_witness FROM p
        |        WHERE qcos >= cast(0.9 as double) GROUP BY vb)
        |SELECT asn.vec_id, asn.cid,
        |  cast(coalesce(dup.dup_witness, -1) as bigint) AS dup_of,
        |  dup.dup_witness IS NULL AS kept
        |FROM asn LEFT JOIN dup USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // the IVF-assigned composition: assignment = exact scaled-integer
    // FLOAT dot against the first-16 raw seed vectors (the persisted
    // index's iters=0 recipe, tie -> smaller cid), pairwise tail
    // identical to q_semantic_dedup
    "q_semantic_dedup_ivf" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(1.01 as double) as float))
        |  FROM embeddings WHERE vec_id < 50),
        |cent AS (
        |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) AS cid,
        |         embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT 16)),
        |fd AS (
        |  SELECT b.vec_id, cent.cid,
        |    list_sum(list_transform(list_zip(b.embedding, cent.cvec),
        |      p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) AS dot
        |  FROM base b CROSS JOIN cent),
        |asn AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) rn
        |    FROM fd) WHERE rn = 1),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |stats AS (
        |  SELECT d, min(cast(embedding[d] as double)) AS mn,
        |         max(cast(embedding[d] as double)) AS mx
        |  FROM base CROSS JOIN dims GROUP BY d),
        |codes AS (
        |  SELECT b.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE cast(floor((cast(b.embedding[s.d] as double) - s.mn)
        |                * cast(254 as double) / (s.mx - s.mn)) as bigint) - 127
        |    END AS code
        |  FROM base b CROSS JOIN stats s),
        |cv AS (SELECT vec_id, list(code ORDER BY d) AS c FROM codes GROUP BY vec_id),
        |n2 AS (SELECT vec_id, cast(list_sum(list_transform(c, x -> x*x)) as bigint) AS n2 FROM cv),
        |p AS (
        |  SELECT a.vec_id va, b.vec_id vb,
        |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN cast(-2 as double)
        |         ELSE cast(list_sum(list_transform(range(1,65), i -> ca.c[i]*cb.c[i])) as double)
        |              / sqrt(cast(na.n2 as double)*cast(nb.n2 as double)) END AS qcos
        |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN cv ca ON ca.vec_id = a.vec_id JOIN cv cb ON cb.vec_id = b.vec_id
        |  JOIN n2 na ON na.vec_id = a.vec_id JOIN n2 nb ON nb.vec_id = b.vec_id),
        |dup AS (SELECT vb AS vec_id, min(va) AS dup_witness FROM p
        |        WHERE qcos >= cast(0.9 as double) GROUP BY vb)
        |SELECT asn.vec_id, asn.cid,
        |  cast(coalesce(dup.dup_witness, -1) as bigint) AS dup_of,
        |  dup.dup_witness IS NULL AS kept
        |FROM asn LEFT JOIN dup USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // incremental semantic dedup through the persisted state: stats +
    // first-16 centroids FROZEN from the corpus build, batch coded with
    // the frozen stats (CLAMPED to the int8 envelope — 1.01x-scaled and
    // sign-flipped values can leave it), assigned by quantized cosine
    // against the frozen centroids, pairwise batch x same-cluster
    // CORPUS members only, min corpus witness
    "q_semantic_dedup_incremental" ->
      """WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
        |batch AS (
        |  SELECT vec_id + 10000 AS vec_id,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(1.01 as double) as float)) AS embedding
        |  FROM embeddings WHERE vec_id < 50
        |  UNION ALL
        |  SELECT vec_id + 20000,
        |    list_transform(embedding, x -> cast(-cast(x as double) as float))
        |  FROM embeddings WHERE vec_id >= 50 AND vec_id < 80),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |stats AS (
        |  SELECT d, min(cast(embedding[d] as double)) AS mn,
        |         max(cast(embedding[d] as double)) AS mx
        |  FROM corpus CROSS JOIN dims GROUP BY d),
        |cc AS (
        |  SELECT c.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE greatest(-127, least(127,
        |           cast(floor((cast(c.embedding[s.d] as double) - s.mn)
        |                * cast(254 as double) / (s.mx - s.mn)) as bigint) - 127))
        |    END AS code
        |  FROM corpus c CROSS JOIN stats s),
        |cv AS (SELECT vec_id, list(code ORDER BY d) AS c FROM cc GROUP BY vec_id),
        |cn2 AS (SELECT vec_id, cast(list_sum(list_transform(c, x -> x*x)) as bigint) AS n2 FROM cv),
        |bc AS (
        |  SELECT b.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE greatest(-127, least(127,
        |           cast(floor((cast(b.embedding[s.d] as double) - s.mn)
        |                * cast(254 as double) / (s.mx - s.mn)) as bigint) - 127))
        |    END AS code
        |  FROM batch b CROSS JOIN stats s),
        |bv AS (SELECT vec_id, list(code ORDER BY d) AS c FROM bc GROUP BY vec_id),
        |bn2 AS (SELECT vec_id, cast(list_sum(list_transform(c, x -> x*x)) as bigint) AS n2 FROM bv),
        |cent AS (
        |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) AS cid,
        |         c AS cvec
        |  FROM (SELECT vec_id, c FROM cv ORDER BY vec_id LIMIT 16)),
        |cn AS (SELECT cid, cast(list_sum(list_transform(cvec, x -> x*x)) as bigint) AS cn2 FROM cent),
        |ca AS (
        |  SELECT cv.vec_id, cent.cid,
        |    cast(list_sum(list_transform(range(1,65), i -> cv.c[i] * cent.cvec[i])) as bigint) AS dot
        |  FROM cv CROSS JOIN cent),
        |casn AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT ca.vec_id, ca.cid,
        |      row_number() OVER (PARTITION BY ca.vec_id ORDER BY
        |        CASE WHEN n2.n2 = 0 OR cn.cn2 = 0 THEN cast(-2 as double)
        |             ELSE cast(ca.dot as double)/sqrt(cast(n2.n2 as double)*cast(cn.cn2 as double)) END DESC,
        |        ca.cid ASC) rn
        |    FROM ca JOIN cn2 n2 ON n2.vec_id = ca.vec_id JOIN cn ON cn.cid = ca.cid) WHERE rn = 1),
        |ba AS (
        |  SELECT bv.vec_id, cent.cid,
        |    cast(list_sum(list_transform(range(1,65), i -> bv.c[i] * cent.cvec[i])) as bigint) AS dot
        |  FROM bv CROSS JOIN cent),
        |basn AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT ba.vec_id, ba.cid,
        |      row_number() OVER (PARTITION BY ba.vec_id ORDER BY
        |        CASE WHEN n2.n2 = 0 OR cn.cn2 = 0 THEN cast(-2 as double)
        |             ELSE cast(ba.dot as double)/sqrt(cast(n2.n2 as double)*cast(cn.cn2 as double)) END DESC,
        |        ba.cid ASC) rn
        |    FROM ba JOIN bn2 n2 ON n2.vec_id = ba.vec_id JOIN cn ON cn.cid = ba.cid) WHERE rn = 1),
        |p AS (
        |  SELECT a.vec_id va, b.vec_id vb,
        |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN cast(-2 as double)
        |         ELSE cast(list_sum(list_transform(range(1,65), i -> ca2.c[i]*cb2.c[i])) as double)
        |              / sqrt(cast(na.n2 as double)*cast(nb.n2 as double)) END AS qcos
        |  FROM basn b JOIN casn a ON a.cid = b.cid
        |  JOIN cv ca2 ON ca2.vec_id = a.vec_id JOIN bv cb2 ON cb2.vec_id = b.vec_id
        |  JOIN cn2 na ON na.vec_id = a.vec_id JOIN bn2 nb ON nb.vec_id = b.vec_id),
        |dup AS (SELECT vb AS vec_id, min(va) AS dup_witness FROM p
        |        WHERE qcos >= cast(0.9 as double) GROUP BY vb)
        |SELECT basn.vec_id, basn.cid,
        |  cast(coalesce(dup.dup_witness, -1) as bigint) AS dup_of,
        |  dup.dup_witness IS NULL AS kept
        |FROM basn LEFT JOIN dup USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // streaming semantic-dedup ingest replayed as one-shot SQL: stats
    // frozen on the SEED slice (vec_id < 200), centroids = the seed's
    // first 16 code vectors, every vector (seed + streamed tail +
    // planted 1.01x copies) coded with the frozen stats (clamped),
    // within-cluster pairs, min-id witness — growth under frozen
    // stats/cents is order-independent, so the drained state must
    // reproduce these bits exactly
    "q_stream_semdedup_ingest" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(embedding,
        |      x -> cast(cast(x as double) * cast(1.01 as double) as float))
        |  FROM embeddings WHERE vec_id < 50),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |stats AS (
        |  SELECT d, min(cast(embedding[d] as double)) AS mn,
        |         max(cast(embedding[d] as double)) AS mx
        |  FROM embeddings CROSS JOIN dims WHERE vec_id < 200 GROUP BY d),
        |codes AS (
        |  SELECT b.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE greatest(-127, least(127,
        |           cast(floor((cast(b.embedding[s.d] as double) - s.mn)
        |                * cast(254 as double) / (s.mx - s.mn)) as bigint) - 127))
        |    END AS code
        |  FROM base b CROSS JOIN stats s),
        |cv AS (SELECT vec_id, list(code ORDER BY d) AS c FROM codes GROUP BY vec_id),
        |n2 AS (SELECT vec_id, cast(list_sum(list_transform(c, x -> x*x)) as bigint) AS n2 FROM cv),
        |cent AS (
        |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) AS cid,
        |         c AS cvec
        |  FROM (SELECT vec_id, c FROM cv WHERE vec_id < 200 ORDER BY vec_id LIMIT 16)),
        |cn AS (SELECT cid, cast(list_sum(list_transform(cvec, x -> x*x)) as bigint) AS cn2 FROM cent),
        |ad AS (
        |  SELECT cv.vec_id, cent.cid,
        |    cast(list_sum(list_transform(range(1,65), i -> cv.c[i] * cent.cvec[i])) as bigint) AS dot
        |  FROM cv CROSS JOIN cent),
        |asn AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT ad.vec_id, ad.cid,
        |      row_number() OVER (PARTITION BY ad.vec_id ORDER BY
        |        CASE WHEN n2.n2 = 0 OR cn.cn2 = 0 THEN cast(-2 as double)
        |             ELSE cast(ad.dot as double)/sqrt(cast(n2.n2 as double)*cast(cn.cn2 as double)) END DESC,
        |        ad.cid ASC) rn
        |    FROM ad JOIN n2 ON n2.vec_id = ad.vec_id JOIN cn ON cn.cid = ad.cid) WHERE rn = 1),
        |p AS (
        |  SELECT a.vec_id va, b.vec_id vb,
        |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN cast(-2 as double)
        |         ELSE cast(list_sum(list_transform(range(1,65), i -> ca.c[i]*cb.c[i])) as double)
        |              / sqrt(cast(na.n2 as double)*cast(nb.n2 as double)) END AS qcos
        |  FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN cv ca ON ca.vec_id = a.vec_id JOIN cv cb ON cb.vec_id = b.vec_id
        |  JOIN n2 na ON na.vec_id = a.vec_id JOIN n2 nb ON nb.vec_id = b.vec_id),
        |dup AS (SELECT vb AS vec_id, min(va) AS dup_witness FROM p
        |        WHERE qcos >= cast(0.9 as double) GROUP BY vb)
        |SELECT asn.vec_id, asn.cid,
        |  cast(coalesce(dup.dup_witness, -1) as bigint) AS dup_of,
        |  dup.dup_witness IS NULL AS kept
        |FROM asn LEFT JOIN dup USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    "q_binary_objects" ->
      """SELECT doc_id, cast(octet_length(encode(text)) as bigint) AS n_bytes
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,

    "q_vocab" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    "q_curation_funnel" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
        |ex AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) keep_id
        |    FROM base) WHERE doc_id = keep_id),
        |words AS (SELECT doc_id, string_split(text,' ') w FROM ex),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) ic
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM inter
        |          JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |          WHERE cast(ic as double) / cast(ca.n + cb.n - ic as double)
        |                >= cast(0.6 as double)),
        |nd AS (SELECT doc_id, text FROM ex
        |       WHERE doc_id NOT IN (SELECT db FROM pairs)),
        |q AS (SELECT doc_id FROM nd WHERE
        |  cast(0.4 as double)
        |    * least(cast(len(regexp_extract_all(text, '\S+')) as double)
        |              / cast(100.0 as double), cast(1.0 as double))
        |  + cast(0.3 as double)
        |    * (cast(1.0 as double)
        |       - cast(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) as double)
        |           / cast(length(text) as double))
        |  + cast(0.3 as double)
        |    * least(cast(len(list_filter(string_split(text,' '),
        |               t -> t in ('the','a','of','and','in','to'))) as double)
        |              / cast(len(string_split(text,' ')) as double)
        |              * cast(5.0 as double), cast(1.0 as double))
        |  >= cast(0.5 as double))
        |SELECT '1_input' AS stage, (SELECT count(*) FROM base) AS n_docs
        |UNION ALL SELECT '2_after_exact_dedup', (SELECT count(*) FROM ex)
        |UNION ALL SELECT '3_after_near_dedup', (SELECT count(*) FROM nd)
        |UNION ALL SELECT '4_after_quality', (SELECT count(*) FROM q)
        |ORDER BY stage""".stripMargin,

    // CC clusters over the verified pair graph; survivor = argmax
    // quality per component (ties -> min doc_id). The quality expression
    // is the q_quality_score formula verbatim, so scores agree
    // bit-for-bit and the rank tie-break is deterministic.
    "q_cluster_best" ->
      """WITH RECURSIVE words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) ic
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM inter
        |          JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |          WHERE cast(ic as double) / cast(ca.n + cb.n - ic as double)
        |                >= cast(0.6 as double)),
        |ed AS (SELECT da, db FROM pairs UNION SELECT db, da FROM pairs),
        |rch AS (SELECT da, db FROM ed
        |        UNION
        |        SELECT r.da, e.db FROM rch r JOIN ed e ON r.db = e.da AND r.da <> e.db),
        |comp AS (SELECT d.doc_id,
        |           least(d.doc_id, coalesce(r.minr, d.doc_id)) c
        |         FROM documents d LEFT JOIN
        |           (SELECT da, min(db) minr FROM rch GROUP BY da) r
        |           ON d.doc_id = r.da),
        |q AS (SELECT doc_id,
        |  cast(0.4 as double)
        |    * least(cast(len(regexp_extract_all(text, '\S+')) as double)
        |              / cast(100.0 as double), cast(1.0 as double))
        |  + cast(0.3 as double)
        |    * (cast(1.0 as double)
        |       - cast(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) as double)
        |           / cast(length(text) as double))
        |  + cast(0.3 as double)
        |    * least(cast(len(list_filter(string_split(text,' '),
        |               t -> t in ('the','a','of','and','in','to'))) as double)
        |              / cast(len(string_split(text,' ')) as double)
        |              * cast(5.0 as double), cast(1.0 as double)) AS score
        |  FROM documents),
        |ranked AS (SELECT comp.doc_id, row_number() OVER (
        |             PARTITION BY c ORDER BY score DESC, comp.doc_id ASC) rn
        |           FROM comp JOIN q ON comp.doc_id = q.doc_id)
        |SELECT doc_id FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_mix_weights" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |s AS (SELECT source, n,
        |        cast(floor(sqrt(cast(n as double)) * 1e9) as bigint) sw FROM c)
        |SELECT source, n,
        |  cast(sw as double) / cast((SELECT sum(sw) FROM s) as double) AS weight
        |FROM s ORDER BY source""".stripMargin,

    // same funnel, transitive policy: symmetric edges -> recursive
    // transitive closure -> drop every node that can reach a smaller id
    // (≡ connected components with survivor = component min)
    "q_curation_funnel_cc" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
        |ex AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) keep_id
        |    FROM base) WHERE doc_id = keep_id),
        |words AS (SELECT doc_id, string_split(text,' ') w FROM ex),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w)-1, 2))) i FROM words),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2],' ') s FROM pos),
        |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) ic
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM inter
        |          JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |          WHERE cast(ic as double) / cast(ca.n + cb.n - ic as double)
        |                >= cast(0.6 as double)),
        |ed AS (SELECT da, db FROM pairs UNION SELECT db, da FROM pairs),
        |rch AS (SELECT da, db FROM ed
        |        UNION
        |        SELECT r.da, e.db FROM rch r JOIN ed e ON r.db = e.da AND r.da <> e.db),
        |nd AS (SELECT doc_id, text FROM ex
        |       WHERE doc_id NOT IN (SELECT da FROM rch WHERE db < da)),
        |q AS (SELECT doc_id FROM nd WHERE
        |  cast(0.4 as double)
        |    * least(cast(len(regexp_extract_all(text, '\S+')) as double)
        |              / cast(100.0 as double), cast(1.0 as double))
        |  + cast(0.3 as double)
        |    * (cast(1.0 as double)
        |       - cast(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) as double)
        |           / cast(length(text) as double))
        |  + cast(0.3 as double)
        |    * least(cast(len(list_filter(string_split(text,' '),
        |               t -> t in ('the','a','of','and','in','to'))) as double)
        |              / cast(len(string_split(text,' ')) as double)
        |              * cast(5.0 as double), cast(1.0 as double))
        |  >= cast(0.5 as double))
        |SELECT '1_input' AS stage, (SELECT count(*) FROM base) AS n_docs
        |UNION ALL SELECT '2_after_exact_dedup', (SELECT count(*) FROM ex)
        |UNION ALL SELECT '3_after_near_dedup', (SELECT count(*) FROM nd)
        |UNION ALL SELECT '4_after_quality', (SELECT count(*) FROM q)
        |ORDER BY stage""".stripMargin,

    "q_array_funcs" ->
      """SELECT doc_id,
        | len(string_split(text,' ')) AS n,
        | len(list_distinct(string_split(text,' '))) AS n_uniq,
        | array_to_string(list_sort(string_split(text,' '))[1:3], '|') AS first3_sorted,
        | list_contains(string_split(text,' '), 'the') AS has_the,
        | reverse(string_split(text,' ')[1]) AS rev_first
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_multimodal_stats" ->
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'text' WHEN 1 THEN 'image' ELSE 'audio' END AS modality,
        |  count(*) AS n,
        |  cast(sum(octet_length(encode(text))) as bigint) AS total_bytes,
        |  min(octet_length(encode(text))) AS min_bytes,
        |  max(octet_length(encode(text))) AS max_bytes
        |FROM documents GROUP BY 1 ORDER BY modality""".stripMargin,

    // duplicated-5-gram positions (by the gram STRING — Spark joins on
    // xxhash64, identical counts short of a 64-bit collision), merged
    // into spans with the same gaps-and-islands arithmetic
    "q_dup_spans" ->
      """WITH wl AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |g AS (SELECT doc_id, unnest(range(1, len(w) - 3)) pos, w
        |      FROM wl WHERE len(w) >= 5),
        |gr AS (SELECT doc_id, pos, array_to_string(w[pos:pos+4],' ') s FROM g),
        |dup AS (SELECT s FROM gr GROUP BY s HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, cast(pos as bigint) pos FROM gr JOIN dup USING (s)),
        |m AS (SELECT doc_id, pos,
        |  CASE WHEN pos > coalesce(max(pos + 4) OVER (PARTITION BY doc_id
        |         ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         -9223372036854775807) + 1
        |       THEN 1 ELSE 0 END brk FROM hits),
        |i AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
        |        ORDER BY pos ROWS UNBOUNDED PRECEDING) span_id FROM m)
        |SELECT doc_id, cast(min(pos) as bigint) AS span_start,
        |  cast(max(pos) + 4 as bigint) AS span_end
        |FROM i GROUP BY doc_id, span_id
        |ORDER BY doc_id, span_start""".stripMargin,

    // the q_dup_spans span set re-derived, then every in-span word
    // position anti-joined away and the survivors re-joined in order
    "q_scrub_spans" ->
      """WITH wl AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |g AS (SELECT doc_id, unnest(range(1, len(w) - 3)) pos, w
        |      FROM wl WHERE len(w) >= 5),
        |gr AS (SELECT doc_id, pos, array_to_string(w[pos:pos+4],' ') s FROM g),
        |dup AS (SELECT s FROM gr GROUP BY s HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, cast(pos as bigint) pos FROM gr JOIN dup USING (s)),
        |m AS (SELECT doc_id, pos,
        |  CASE WHEN pos > coalesce(max(pos + 4) OVER (PARTITION BY doc_id
        |         ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         -9223372036854775807) + 1
        |       THEN 1 ELSE 0 END brk FROM hits),
        |i AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
        |        ORDER BY pos ROWS UNBOUNDED PRECEDING) span_id FROM m),
        |spans AS (SELECT doc_id, min(pos) ss, max(pos) + 4 se
        |          FROM i GROUP BY doc_id, span_id),
        |posn AS (SELECT doc_id, unnest(range(1, len(w) + 1)) i, w FROM wl),
        |kept AS (SELECT p.doc_id, p.i, p.w[p.i] word FROM posn p
        |         WHERE NOT EXISTS (SELECT 1 FROM spans s
        |           WHERE s.doc_id = p.doc_id AND p.i BETWEEN s.ss AND s.se))
        |SELECT w.doc_id,
        |  cast(coalesce(k.n, 0) as bigint) AS n_kept,
        |  md5(coalesce(k.txt, '')) AS clean_fp
        |FROM wl w LEFT JOIN (
        |  SELECT doc_id, count(*) n,
        |    array_to_string(list(word ORDER BY i), ' ') txt
        |  FROM kept GROUP BY doc_id) k ON w.doc_id = k.doc_id
        |ORDER BY w.doc_id""".stripMargin,

    "q_pack" ->
      """WITH t AS (SELECT doc_id, source AS stream,
        |    cast(len(regexp_extract_all(text, '\S+')) as bigint) n_tok
        |  FROM documents),
        |o AS (SELECT doc_id, stream, n_tok,
        |    cast(coalesce(sum(n_tok) OVER (PARTITION BY stream ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) ofs
        |  FROM t)
        |SELECT doc_id, stream, n_tok, ofs AS "offset",
        |  cast(ofs // 256 as bigint) AS start_bin,
        |  cast((ofs + greatest(n_tok - 1, 0)) // 256 as bigint) AS end_bin
        |FROM o ORDER BY stream, doc_id""".stripMargin,

    "q_pack_windows" ->
      """WITH t AS (SELECT doc_id, source AS stream,
        |    cast(len(regexp_extract_all(text, '\S+')) as bigint) n_tok
        |  FROM documents),
        |o AS (SELECT doc_id, stream, n_tok,
        |    cast(coalesce(sum(n_tok) OVER (PARTITION BY stream ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) ofs
        |  FROM t),
        |b AS (SELECT doc_id, stream, n_tok, ofs,
        |    cast(ofs // 256 as bigint) sb,
        |    cast((ofs + n_tok - 1) // 256 as bigint) eb
        |  FROM o WHERE n_tok > 0),
        |w AS (SELECT doc_id, stream, n_tok, ofs, unnest(range(sb, eb + 1)) bin
        |  FROM b)
        |SELECT stream, bin, doc_id,
        |  cast(greatest(bin*256 - ofs, 0) as bigint) AS start_in_doc,
        |  cast(least((bin+1)*256, ofs + n_tok) - greatest(bin*256, ofs) as bigint) AS len
        |FROM w ORDER BY stream, bin, doc_id""".stripMargin,

    "q_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |n AS (SELECT doc_id, w, len(w) m FROM t),
        |c AS (SELECT doc_id, w, m,
        |    CASE WHEN m <= 64 THEN 1 ELSE (m - 64 + 47) // 48 + 1 END nch
        |  FROM n),
        |e AS (SELECT doc_id, w, m, unnest(range(0, nch)) k FROM c)
        |SELECT doc_id, cast(k as int) AS chunk_id,
        |  array_to_string(w[k*48 + 1 : least(k*48 + 64, m)], ' ') AS chunk_text,
        |  cast(least(k*48 + 64, m) - k*48 as int) AS n_tok
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,

    // byte offsets replayed with strlen (BYTE length, so the gate is
    // multi-byte-exact): start_byte of token f = bytes of the joined
    // f-token prefix + 1 separator (0 when f = 0); len_bytes = bytes of
    // the joined window, which by the rebuild identity IS the slice
    // length
    "q_chunk_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |n AS (SELECT doc_id, w, len(w) m FROM t),
        |c AS (SELECT doc_id, w, m,
        |    CASE WHEN m <= 64 THEN 1 ELSE (m - 64 + 47) // 48 + 1 END nch
        |  FROM n),
        |e AS (SELECT doc_id, w, m, unnest(range(0, nch)) k FROM c)
        |SELECT doc_id, cast(k as int) AS chunk_id,
        |  cast(k*48 as int) AS start_tok,
        |  cast(least(k*48 + 64, m) - k*48 as int) AS n_tok,
        |  cast(CASE WHEN k = 0 THEN 0
        |       ELSE strlen(array_to_string(w[1 : k*48], ' ')) + 1 END as int)
        |    AS start_byte,
        |  cast(strlen(array_to_string(w[k*48 + 1 : least(k*48 + 64, m)], ' '))
        |    as int) AS len_bytes
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,

    "q_format_roundtrip" ->
      """SELECT 'csv' AS fmt, count(*) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars,
        |  cast(sum(length(text)) as bigint) AS sum_text_len
        |FROM documents
        |UNION ALL
        |SELECT 'orc', count(*), cast(sum(n_chars) as bigint),
        |  cast(sum(length(text)) as bigint)
        |FROM documents ORDER BY fmt""".stripMargin,

    "q_bm25" ->
      """WITH q(query_id, qtext) AS (VALUES
        |    (0, 'spark query engine'), (1, 'join filter window'),
        |    (2, 'customer order stream'), (3, 'table scan merge sort')),
        |qt AS (SELECT cast(query_id as bigint) query_id, term,
        |    cast(count(*) as bigint) qtf
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)
        |  GROUP BY 1, 2),
        |tf AS (SELECT doc_id, term, cast(count(*) as bigint) tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dln AS (SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) dl
        |  FROM documents),
        |a AS (SELECT cast(count(*) as bigint) n_docs,
        |    cast(sum(len(string_split(text, ' '))) as bigint)
        |      // cast(count(*) as bigint) AS avgdl
        |  FROM documents),
        |cand AS (SELECT tf.doc_id, tf.term, tf.tf, dln.dl
        |  FROM tf JOIN dln USING (doc_id)
        |  JOIN (SELECT DISTINCT term FROM qt) v USING (term)),
        |dft AS (SELECT term, cast(count(*) as bigint) df FROM cand GROUP BY 1),
        |sc AS (SELECT qt.query_id, c.doc_id,
    |    cast(sum(qt.qtf * ((((1000 * (2*a.n_docs - 2*dft.df + 1))
        |                     // (2*dft.df + 1)) * 44 * c.tf * a.avgdl)
        |        // (20*c.tf*a.avgdl + 6*a.avgdl + 18*c.dl))) as bigint)
        |      score_scaled
        |  FROM cand c JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN a
        |  GROUP BY 1, 2)
        |SELECT query_id, rnk, doc_id, score_scaled FROM (
        |  SELECT query_id, doc_id, score_scaled,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score_scaled DESC, doc_id) rnk
        |  FROM sc)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // both stages replayed: the q_bm25 pipeline at k0=10 produces the
    // shortlist, then the LTR features (distinct-term coverage, tf
    // capped at 3, distinct ordered-bigram hits, length saturation) and
    // the rerank window — every shortlist pair is scored (LEFT joins:
    // zero-hit candidates score 0, never drop)
    "q_rerank" ->
      """WITH q AS (SELECT doc_id AS query_id,
        |    array_to_string(string_split(text, ' ')[1:6], ' ') qtext
        |  FROM documents WHERE doc_id < 4),
        |qt AS (SELECT query_id, term, cast(count(*) as bigint) qtf
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)
        |  GROUP BY 1, 2),
        |tf AS (SELECT doc_id, term, cast(count(*) as bigint) tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dln AS (SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) dl
        |  FROM documents),
        |a AS (SELECT cast(count(*) as bigint) n_docs,
        |    cast(sum(len(string_split(text, ' '))) as bigint)
        |      // cast(count(*) as bigint) AS avgdl
        |  FROM documents),
        |cand AS (SELECT tf.doc_id, tf.term, tf.tf, dln.dl
        |  FROM tf JOIN dln USING (doc_id)
        |  JOIN (SELECT DISTINCT term FROM qt) v USING (term)),
        |dft AS (SELECT term, cast(count(*) as bigint) df FROM cand GROUP BY 1),
        |sc AS (SELECT qt.query_id, c.doc_id,
        |    cast(sum(qt.qtf * ((((1000 * (2*a.n_docs - 2*dft.df + 1))
        |                     // (2*dft.df + 1)) * 44 * c.tf * a.avgdl)
        |        // (20*c.tf*a.avgdl + 6*a.avgdl + 18*c.dl))) as bigint)
        |      score_scaled
        |  FROM cand c JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN a
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, doc_id FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score_scaled DESC, doc_id) rnk
        |  FROM sc) WHERE rnk <= 10),
        |qterm AS (SELECT DISTINCT query_id, term
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)),
        |w AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |dbg AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) i FROM w)),
        |qbg AS (SELECT DISTINCT query_id, t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT query_id, string_split(qtext, ' ') t, unnest(range(1,
        |          len(string_split(qtext, ' ')))) i FROM q)),
        |tfeat AS (SELECT s.query_id, s.doc_id,
        |    cast(count(*) as bigint) matched,
        |    cast(sum(least(tf.tf, 3)) as bigint) capped_tf
        |  FROM short s JOIN qterm USING (query_id)
        |  JOIN tf ON tf.doc_id = s.doc_id AND tf.term = qterm.term
        |  GROUP BY 1, 2),
        |bfeat AS (SELECT s.query_id, s.doc_id, cast(count(*) as bigint) hits
        |  FROM short s JOIN qbg USING (query_id)
        |  JOIN dbg ON dbg.doc_id = s.doc_id AND dbg.b = qbg.b
        |  GROUP BY 1, 2),
        |rr AS (SELECT s.query_id, s.doc_id,
        |    cast((1000 * (4*coalesce(tfeat.matched, 0)
        |                  + 2*coalesce(tfeat.capped_tf, 0)
        |                  + 8*coalesce(bfeat.hits, 0))) // (20 + dln.dl)
        |      as bigint) AS rr_score
        |  FROM short s
        |  LEFT JOIN tfeat USING (query_id, doc_id)
        |  LEFT JOIN bfeat USING (query_id, doc_id)
        |  JOIN dln ON dln.doc_id = s.doc_id)
        |SELECT query_id, rnk, doc_id, rr_score FROM (
        |  SELECT query_id, doc_id, rr_score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rr_score DESC, doc_id) rnk
        |  FROM rr) WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // the injectable-scorer gate: q_rerank's two-stage replay with ONLY
    // the rr formula swapped to the proximity-first expression — the
    // plumbing CTEs are identical by construction
    "q_rerank_swapped" ->
      """WITH q AS (SELECT doc_id AS query_id,
        |    array_to_string(string_split(text, ' ')[1:6], ' ') qtext
        |  FROM documents WHERE doc_id < 4),
        |qt AS (SELECT query_id, term, cast(count(*) as bigint) qtf
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)
        |  GROUP BY 1, 2),
        |tf AS (SELECT doc_id, term, cast(count(*) as bigint) tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dln AS (SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) dl
        |  FROM documents),
        |a AS (SELECT cast(count(*) as bigint) n_docs,
        |    cast(sum(len(string_split(text, ' '))) as bigint)
        |      // cast(count(*) as bigint) AS avgdl
        |  FROM documents),
        |cand AS (SELECT tf.doc_id, tf.term, tf.tf, dln.dl
        |  FROM tf JOIN dln USING (doc_id)
        |  JOIN (SELECT DISTINCT term FROM qt) v USING (term)),
        |dft AS (SELECT term, cast(count(*) as bigint) df FROM cand GROUP BY 1),
        |sc AS (SELECT qt.query_id, c.doc_id,
        |    cast(sum(qt.qtf * ((((1000 * (2*a.n_docs - 2*dft.df + 1))
        |                     // (2*dft.df + 1)) * 44 * c.tf * a.avgdl)
        |        // (20*c.tf*a.avgdl + 6*a.avgdl + 18*c.dl))) as bigint)
        |      score_scaled
        |  FROM cand c JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN a
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, doc_id FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score_scaled DESC, doc_id) rnk
        |  FROM sc) WHERE rnk <= 10),
        |qterm AS (SELECT DISTINCT query_id, term
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)),
        |w AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |dbg AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) i FROM w)),
        |qbg AS (SELECT DISTINCT query_id, t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT query_id, string_split(qtext, ' ') t, unnest(range(1,
        |          len(string_split(qtext, ' ')))) i FROM q)),
        |tfeat AS (SELECT s.query_id, s.doc_id,
        |    cast(count(*) as bigint) matched,
        |    cast(sum(least(tf.tf, 3)) as bigint) capped_tf
        |  FROM short s JOIN qterm USING (query_id)
        |  JOIN tf ON tf.doc_id = s.doc_id AND tf.term = qterm.term
        |  GROUP BY 1, 2),
        |bfeat AS (SELECT s.query_id, s.doc_id, cast(count(*) as bigint) hits
        |  FROM short s JOIN qbg USING (query_id)
        |  JOIN dbg ON dbg.doc_id = s.doc_id AND dbg.b = qbg.b
        |  GROUP BY 1, 2),
        |rr AS (SELECT s.query_id, s.doc_id,
        |    cast((1000 * (16*coalesce(bfeat.hits, 0)
        |                  + coalesce(tfeat.matched, 0))) // (20 + dln.dl)
        |      as bigint) AS rr_score
        |  FROM short s
        |  LEFT JOIN tfeat USING (query_id, doc_id)
        |  LEFT JOIN bfeat USING (query_id, doc_id)
        |  JOIN dln ON dln.doc_id = s.doc_id)
        |SELECT query_id, rnk, doc_id, rr_score FROM (
        |  SELECT query_id, doc_id, rr_score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rr_score DESC, doc_id) rnk
        |  FROM rr) WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // the corpus-scale dual: queries = every doc's first-8-token prefix,
    // k = 3, absolute posting-list cap df <= 3000 (inert at the sf0.01
    // gate) — same integer scoring, so the replay is exact
    "q_bm25_selfjoin" ->
      """WITH q AS (SELECT doc_id AS query_id,
        |    string_split(text, ' ')[1:8] qts FROM documents),
        |qt AS (SELECT query_id, term, cast(count(*) as bigint) qtf
        |  FROM (SELECT query_id, unnest(qts) term FROM q)
        |  GROUP BY 1, 2),
        |tf AS (SELECT doc_id, term, cast(count(*) as bigint) tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dln AS (SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) dl
        |  FROM documents),
        |a AS (SELECT cast(count(*) as bigint) n_docs,
        |    cast(sum(len(string_split(text, ' '))) as bigint)
        |      // cast(count(*) as bigint) AS avgdl
        |  FROM documents),
        |cand AS (SELECT tf.doc_id, tf.term, tf.tf, dln.dl
        |  FROM tf JOIN dln USING (doc_id)
        |  JOIN (SELECT DISTINCT term FROM qt) v USING (term)),
        |dft AS (SELECT term, cast(count(*) as bigint) df FROM cand
        |  GROUP BY 1 HAVING cast(count(*) as bigint) <= 3000),
        |sc AS (SELECT qt.query_id, c.doc_id,
        |    cast(sum(qt.qtf * ((((1000 * (2*a.n_docs - 2*dft.df + 1))
        |                     // (2*dft.df + 1)) * 44 * c.tf * a.avgdl)
        |        // (20*c.tf*a.avgdl + 6*a.avgdl + 18*c.dl))) as bigint)
        |      score_scaled
        |  FROM cand c JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN a
        |  GROUP BY 1, 2)
        |SELECT query_id, rnk, doc_id, score_scaled FROM (
        |  SELECT query_id, doc_id, score_scaled,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score_scaled DESC, doc_id) rnk
        |  FROM sc)
        |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // heavy hitters are EXACT by the no-false-negative argument, so the
    // oracle is the direct threshold query — no sketch replay needed
    "q_heavy_hitters" ->
      """WITH tc AS (SELECT term, cast(count(*) as bigint) c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT cast(sum(c) as bigint) t FROM tc)
        |SELECT term, c AS n FROM tc CROSS JOIN tot
        |WHERE c > t // 50 ORDER BY term""".stripMargin,

    // the CMS replay: ONE hash60 per term, KM double-hashed buckets
    // (h_lo + i*h_hi) % w — pure integer SQL, overflow-free in both
    // engines; sparse matrix via groupBy, min over the d=4 rows. Any
    // divergence between the aggregator's JVM md5/mix and this SQL
    // shape hash-fails every row
    "q_cms" ->
      """WITH tc AS (SELECT term, cast(count(*) as bigint) c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1),
        |th AS (SELECT term, c,
        |    cast('0x' || substr(md5(term), 1, 15) as bigint) h FROM tc),
        |tb AS (SELECT term, c, r.i,
        |    cast((h % 1073741824 + r.i * (h // 1073741824)) % 256 as bigint) b
        |  FROM th CROSS JOIN range(4) r(i)),
        |cells AS (SELECT i, b, cast(sum(c) as bigint) s
        |  FROM tb GROUP BY 1, 2),
        |est AS (SELECT tb.term, cast(min(cells.s) as bigint) est_count
        |  FROM tb JOIN cells ON cells.i = tb.i AND cells.b = tb.b
        |  GROUP BY 1)
        |SELECT tc.term, est.est_count, tc.c AS exact_count
        |FROM tc JOIN est ON tc.term = est.term ORDER BY tc.term""".stripMargin,

    // the z-key replay: same min/max domains (derived in SQL from the
    // same table), same integer scaling, and the interleave expression
    // GENERATED from the same (column, bit) enumeration as the Spark
    // side — the two engines cannot drift by hand-editing one of them
    "q_zorder" -> {
      val interleave = graft.ext.Zorder.zkeySql(Seq("s1", "s2"), 16)
      s"""WITH d AS (SELECT cast(min(o_custkey) as bigint) lo1,
         |    cast(max(o_custkey) as bigint) hi1,
         |    cast(min(o_orderkey) as bigint) lo2,
         |    cast(max(o_orderkey) as bigint) hi2 FROM orders),
         |s AS (SELECT o_orderkey,
         |    ((cast(o_custkey as bigint) - lo1) * 65535) // (hi1 - lo1) AS s1,
         |    ((cast(o_orderkey as bigint) - lo2) * 65535) // (hi2 - lo2) AS s2
         |  FROM orders CROSS JOIN d)
         |SELECT o_orderkey, cast(($interleave) as bigint) AS zkey
         |FROM s ORDER BY o_orderkey""".stripMargin
    },

    // the pruning replay: rebuild the SAME fixed-width bucket assignment
    // (zkey // width, width = 2^32/16) in SQL, compute each bucket's
    // actual per-column min/max (== the parquet footer stats of the
    // one-file-per-bucket layout), and count intersecting buckets per
    // probe + the exact full-table match counts the pruned read must
    // reproduce. Probes are domain-relative so the row is
    // scale-factor-stable by construction, not by luck
    // layout maintenance: data conservation is replayed exactly (count
    // + key sum over the source table), the physical claims (live dirs
    // back to body+fold, measured tail decay, measured fold locality
    // on BOTH dimensions) are pinned flags the engine must earn
    "q_zorder_maintained" ->
      """SELECT cast(count(*) as bigint) AS n_rows,
        | cast(sum(o_orderkey) as bigint) AS key_sum,
        | cast(2 as bigint) AS n_live_dirs,
        | TRUE AS tail_was_decayed,
        | TRUE AS fold_cust_local,
        | TRUE AS fold_order_local
        |FROM orders""".stripMargin,

    "q_zorder_prune" -> {
      val interleave = graft.ext.Zorder.zkeySql(Seq("s1", "s2"), 16)
      s"""WITH d AS (SELECT cast(min(o_custkey) as bigint) lo1,
         |    cast(max(o_custkey) as bigint) hi1,
         |    cast(min(o_orderkey) as bigint) lo2,
         |    cast(max(o_orderkey) as bigint) hi2 FROM orders),
         |p AS (SELECT lo1 + (hi1-lo1)//4 AS p1lo,
         |    lo1 + (hi1-lo1)//4 + (hi1-lo1)//20 AS p1hi,
         |    lo2 + (hi2-lo2)//2 AS p2lo,
         |    lo2 + (hi2-lo2)//2 + (hi2-lo2)//20 AS p2hi FROM d),
         |s AS (SELECT o_orderkey, o_custkey,
         |    ((cast(o_custkey as bigint) - lo1) * 65535) // (hi1 - lo1) AS s1,
         |    ((cast(o_orderkey as bigint) - lo2) * 65535) // (hi2 - lo2) AS s2
         |  FROM orders CROSS JOIN d),
         |z AS (SELECT o_orderkey, o_custkey,
         |    cast(($interleave) as bigint) // 268435456 AS zb FROM s),
         |f AS (SELECT zb, min(o_custkey) clo, max(o_custkey) chi,
         |    min(o_orderkey) olo, max(o_orderkey) ohi FROM z GROUP BY 1)
         |SELECT * FROM (
         |  SELECT 'p_both' AS probe,
         |    (SELECT cast(count(*) as bigint) FROM f) AS files_total,
         |    (SELECT cast(count(*) as bigint) FROM f, p
         |     WHERE clo <= p1hi AND chi >= p1lo
         |       AND olo <= p2hi AND ohi >= p2lo) AS files_read,
         |    (SELECT cast(count(*) as bigint) FROM z, p
         |     WHERE o_custkey BETWEEN p1lo AND p1hi
         |       AND o_orderkey BETWEEN p2lo AND p2hi) AS match_cnt
         |  UNION ALL
         |  SELECT 'p_cust',
         |    (SELECT cast(count(*) as bigint) FROM f),
         |    (SELECT cast(count(*) as bigint) FROM f, p
         |     WHERE clo <= p1hi AND chi >= p1lo),
         |    (SELECT cast(count(*) as bigint) FROM z, p
         |     WHERE o_custkey BETWEEN p1lo AND p1hi)
         |  UNION ALL
         |  SELECT 'p_order',
         |    (SELECT cast(count(*) as bigint) FROM f),
         |    (SELECT cast(count(*) as bigint) FROM f, p
         |     WHERE olo <= p2hi AND ohi >= p2lo),
         |    (SELECT cast(count(*) as bigint) FROM z, p
         |     WHERE o_orderkey BETWEEN p2lo AND p2hi)
         |) ORDER BY probe""".stripMargin
    },

    // the log2 histogram replay: same binary-string-length bucket
    "q_loghist" ->
      """SELECT cast(length(bin(x)) - 1 as bigint) AS bucket,
        |  cast(count(*) as bigint) AS cnt
        |FROM (SELECT cast(len(string_split(text, ' ')) as bigint) x
        |      FROM documents)
        |WHERE x >= 1 GROUP BY 1 ORDER BY bucket""".stripMargin,

    // permille thresholds replayed with the identical integer ceil
    "q_loghist_quantiles" ->
      """WITH v AS (SELECT cast(len(string_split(text, ' ')) as bigint) x
        |           FROM documents),
        |h AS (SELECT cast(length(bin(x)) - 1 as bigint) bucket,
        |        cast(count(*) as bigint) cnt
        |      FROM v WHERE x >= 1 GROUP BY 1),
        |c AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) cum,
        |        sum(cnt) OVER () total FROM h),
        |q(permille) AS (VALUES (500), (900), (990))
        |SELECT cast(permille as bigint) AS permille,
        |  cast(min(bucket) as bigint) AS bucket,
        |  cast((1::BIGINT << min(bucket)) as bigint) AS est
        |FROM q JOIN c ON cum >= (total * permille + 999) // 1000
        |GROUP BY permille ORDER BY permille""".stripMargin,

    // merged half-sketches must equal the one-pass whole-corpus sketch,
    // so the oracle is the IDENTICAL whole-corpus replay — the merge on
    // the Spark side is what is under test
    "q_cms_merge" ->
      """WITH tc AS (SELECT term, cast(count(*) as bigint) c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1),
        |th AS (SELECT term, c,
        |    cast('0x' || substr(md5(term), 1, 15) as bigint) h FROM tc),
        |tb AS (SELECT term, c, r.i,
        |    cast((h % 1073741824 + r.i * (h // 1073741824)) % 256 as bigint) b
        |  FROM th CROSS JOIN range(4) r(i)),
        |cells AS (SELECT i, b, cast(sum(c) as bigint) s
        |  FROM tb GROUP BY 1, 2),
        |est AS (SELECT tb.term, cast(min(cells.s) as bigint) est_count
        |  FROM tb JOIN cells ON cells.i = tb.i AND cells.b = tb.b
        |  GROUP BY 1)
        |SELECT tc.term, est.est_count, tc.c AS exact_count
        |FROM tc JOIN est ON tc.term = est.term ORDER BY tc.term""".stripMargin,

    "q_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |pos AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b, t[i] AS w1
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) i FROM w)),
        |dbc AS (SELECT doc_id, b, cast(count(*) as bigint) c
        |  FROM pos GROUP BY 1, 2),
        |big AS (SELECT b, cast(count(*) as bigint) cnt FROM pos GROUP BY 1),
        |ctx AS (SELECT w1 AS cx, cast(count(*) as bigint) n_ctx
        |  FROM pos GROUP BY 1),
        |v AS (SELECT cast(count(DISTINCT tok) as bigint) v
        |  FROM (SELECT unnest(t) tok FROM w)),
        |sc AS (SELECT dbc.doc_id,
        |    cast(sum(dbc.c) as bigint) n_grams,
        |    cast(sum(dbc.c * ((1000 * (ctx.n_ctx + v.v)) // (big.cnt + 1)))
        |      as bigint) tot
        |  FROM dbc
        |  JOIN big USING (b)
        |  JOIN ctx ON split_part(dbc.b, ' ', 1) = ctx.cx
        |  CROSS JOIN v
        |  GROUP BY 1)
        |SELECT doc_id, n_grams, tot // n_grams AS nll_scaled
        |FROM sc ORDER BY doc_id""".stripMargin,

    // model CTEs filtered to the reference subset (doc_id % 10 = 0);
    // LEFT joins + coalesce replay the OOV semantics (unseen n-gram ->
    // cnt 0, unseen context -> ctx 0); V counts the TRAINING vocabulary
    "q_lm_score_frozen" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |pos AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b, t[i] AS w1
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) i FROM w)),
        |dbc AS (SELECT doc_id, b, cast(count(*) as bigint) c
        |  FROM pos GROUP BY 1, 2),
        |big AS (SELECT b, cast(count(*) as bigint) cnt
        |  FROM pos WHERE doc_id % 10 = 0 GROUP BY 1),
        |ctx AS (SELECT w1 AS cx, cast(count(*) as bigint) n_ctx
        |  FROM pos WHERE doc_id % 10 = 0 GROUP BY 1),
        |v AS (SELECT cast(count(DISTINCT tok) as bigint) v
        |  FROM (SELECT unnest(t) tok FROM w WHERE doc_id % 10 = 0)),
        |sc AS (SELECT dbc.doc_id,
        |    cast(sum(dbc.c) as bigint) n_grams,
        |    cast(sum(dbc.c * ((1000 * (coalesce(ctx.n_ctx, 0) + v.v))
        |      // (coalesce(big.cnt, 0) + 1))) as bigint) tot
        |  FROM dbc
        |  LEFT JOIN big USING (b)
        |  LEFT JOIN ctx ON split_part(dbc.b, ' ', 1) = ctx.cx
        |  CROSS JOIN v
        |  GROUP BY 1)
        |SELECT doc_id, n_grams, tot // n_grams AS nll_scaled
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q_collocations" ->
      """WITH w AS (SELECT string_split(text,' ') t FROM documents),
        |toks AS (SELECT unnest(t) tok FROM w),
        |uni AS (SELECT tok, count(*) n FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) n_total FROM toks),
        |bi AS (
        |  SELECT t[i] w1, t[i+1] w2, count(*) n_ab
        |  FROM (SELECT t, unnest(range(1, len(t))) i FROM w)
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, n_ab,
        |  cast((n_ab * n_total * 1000000) // (a.n * b.n) as bigint) AS lift_scaled
        |FROM bi JOIN uni a ON w1 = a.tok JOIN uni b ON w2 = b.tok CROSS JOIN tot
        |ORDER BY lift_scaled DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,

    "q_mix_apply" ->
      """WITH d AS (SELECT source, doc_id,
        |    cast(('0x'||substr(md5(source),1,15)) as bigint) % 16 + 5 AS pct,
        |    cast(('0x'||substr(md5(cast(doc_id as varchar)),1,15)) as bigint) % 100 AS hk
        |  FROM documents)
        |SELECT source, cast(pct as bigint) AS pct, count(*) AS n_kept
        |FROM d WHERE hk < pct GROUP BY source, pct ORDER BY source""".stripMargin,

    "q_stratified_sample" ->
      """WITH r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cast(('0x'||substr(md5(cast(doc_id as varchar)),1,15)) as bigint) ASC,
        |               doc_id ASC) rn
        |  FROM documents)
        |SELECT source, doc_id FROM r WHERE rn <= 5
        |ORDER BY source, doc_id""".stripMargin,

    // priority = hash60 // weight (DuckDB // is floor division = Spark
    // div on these non-negative operands); n smallest (priority, key)
    "q_weighted_sample" ->
      """WITH w AS (SELECT doc_id, n_chars,
        |    greatest(n_chars, 1) AS wt,
        |    cast(('0x'||substr(md5(cast(doc_id as varchar)),1,15)) as bigint) AS h
        |  FROM documents)
        |SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars, h // wt AS pri
        |  FROM w ORDER BY pri ASC, doc_id ASC LIMIT 200)
        |ORDER BY doc_id""".stripMargin,

    "q_weighted_stratified" ->
      """WITH w AS (SELECT source, doc_id, n_chars,
        |    greatest(n_chars, 1) AS wt,
        |    cast(('0x'||substr(md5(cast(doc_id as varchar)),1,15)) as bigint) AS h
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY h // wt ASC, doc_id ASC) rn
        |  FROM w)
        |SELECT source, doc_id, n_chars FROM r WHERE rn <= 20
        |ORDER BY source, doc_id""".stripMargin,

    // the HT estimation replay: the (n+1)=201-row top, threshold
    // priority p_(201), est_weight = max(wt, 2^60 // p_(201)) — every
    // step integer floor division, so est_sum hash-matches exactly; the
    // envelope flag is integer arithmetic too (no float compare)
    "q_weighted_estimate" ->
      """WITH w AS (SELECT doc_id, greatest(n_chars, 1) AS wt,
        |    cast(('0x'||substr(md5(cast(doc_id as varchar)),1,15)) as bigint) AS h
        |  FROM documents),
        |p AS (SELECT doc_id, wt, h // wt AS pri FROM w),
        |t AS (SELECT wt, pri,
        |    row_number() OVER (ORDER BY pri ASC, doc_id ASC) AS rn,
        |    count(*) OVER () AS cnt, max(pri) OVER () AS ptau
        |  FROM (SELECT * FROM p ORDER BY pri ASC, doc_id ASC LIMIT 201)),
        |s AS (SELECT CASE WHEN cnt <= 200 THEN wt
        |    ELSE greatest(wt, 1152921504606846976 // greatest(ptau, 1)) END AS est_weight
        |  FROM t WHERE rn <= 200),
        |e AS (SELECT count(*) AS n_sampled,
        |    cast(sum(est_weight) as bigint) AS est_sum FROM s),
        |x AS (SELECT cast(sum(greatest(n_chars, 1)) as bigint) AS exact_sum
        |  FROM documents)
        |SELECT n_sampled, est_sum, exact_sum,
        |  abs(est_sum - exact_sum) * 100 <= 15 * exact_sum AS within_15pct
        |FROM e, x""".stripMargin,

    // per-stratum HT replay: per-source 11-row top, per-source
    // threshold τ_s, est_weight = max(wt, 2^60 // τ_s); every step
    // integer floor division so the per-source est_sum rows hash-match
    // exactly; the envelope flag is integer arithmetic on the totals
    "q_weighted_stratified_estimate" ->
      """WITH w AS (SELECT source, doc_id, greatest(n_chars, 1) AS wt,
        |    cast(('0x'||substr(md5(cast(doc_id as varchar)),1,15)) as bigint) AS h
        |  FROM documents),
        |p AS (SELECT source, doc_id, wt, h // wt AS pri FROM w),
        |t AS (SELECT source, doc_id, wt, pri,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY pri ASC, doc_id ASC) AS rn
        |  FROM p),
        |k AS (SELECT source, wt, rn,
        |    count(*) OVER (PARTITION BY source) AS cnt,
        |    max(pri) OVER (PARTITION BY source) AS ptau
        |  FROM t WHERE rn <= 11),
        |s AS (SELECT source, CASE WHEN cnt <= 10 THEN wt
        |    ELSE greatest(wt, 1152921504606846976 // greatest(ptau, 1)) END AS est_weight
        |  FROM k WHERE rn <= 10),
        |e AS (SELECT source, count(*) AS n_sampled,
        |    cast(sum(est_weight) as bigint) AS est_sum FROM s GROUP BY 1),
        |x AS (SELECT source, cast(sum(greatest(n_chars, 1)) as bigint) AS exact_sum
        |  FROM documents GROUP BY 1),
        |j AS (SELECT e.source, n_sampled, est_sum, exact_sum
        |  FROM e JOIN x USING (source)),
        |tot AS (SELECT cast(sum(est_sum) as bigint) te,
        |    cast(sum(exact_sum) as bigint) tx FROM j)
        |SELECT source, n_sampled, est_sum, exact_sum,
        |  abs(te - tx) * 100 <= 15 * tx AS total_within_15pct
        |FROM j, tot ORDER BY source""".stripMargin,

    // BM25 top-20 (the q_bm25 CTE chain) + cosine top-20 (the
    // q_cosine_topk chain, queries vec_id < 4), fused with
    // floor(1e12/(60+rank)) BIGINT contributions — rank fusion is
    // integer-exact end to end
    "q_hybrid_rrf" ->
      """WITH q(query_id, qtext) AS (VALUES
        |    (0, 'spark query engine'), (1, 'join filter window'),
        |    (2, 'customer order stream'), (3, 'table scan merge sort')),
        |qt AS (SELECT cast(query_id as bigint) query_id, term,
        |    cast(count(*) as bigint) qtf
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)
        |  GROUP BY 1, 2),
        |tf AS (SELECT doc_id, term, cast(count(*) as bigint) tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dln AS (SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) dl
        |  FROM documents),
        |a AS (SELECT cast(count(*) as bigint) n_docs,
        |    cast(sum(len(string_split(text, ' '))) as bigint)
        |      // cast(count(*) as bigint) AS avgdl
        |  FROM documents),
        |cand AS (SELECT tf.doc_id, tf.term, tf.tf, dln.dl
        |  FROM tf JOIN dln USING (doc_id)
        |  JOIN (SELECT DISTINCT term FROM qt) v USING (term)),
        |dft AS (SELECT term, cast(count(*) as bigint) df FROM cand GROUP BY 1),
        |sc AS (SELECT qt.query_id, c.doc_id,
        |    cast(sum(qt.qtf * ((((1000 * (2*a.n_docs - 2*dft.df + 1))
        |                     // (2*dft.df + 1)) * 44 * c.tf * a.avgdl)
        |        // (20*c.tf*a.avgdl + 6*a.avgdl + 18*c.dl))) as bigint)
        |      score_scaled
        |  FROM cand c JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN a
        |  GROUP BY 1, 2),
        |tr AS (SELECT query_id, doc_id AS id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score_scaled DESC, doc_id) rnk
        |  FROM sc),
        |nrm AS (
        |  SELECT vec_id, list_sum(list_transform(embedding,
        |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
        |  FROM embeddings),
        |dots AS (
        |  SELECT q2.vec_id qid, e.vec_id cid,
        |         list_sum(list_transform(list_zip(q2.embedding, e.embedding),
        |           p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
        |  FROM embeddings q2 JOIN embeddings e ON e.vec_id <> q2.vec_id
        |  WHERE q2.vec_id < 4),
        |cs AS (
        |  SELECT qid, cid,
        |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
        |  FROM dots JOIN nrm nq ON nq.vec_id = dots.qid
        |  JOIN nrm nc ON nc.vec_id = dots.cid),
        |vr AS (SELECT qid AS query_id, cid AS id,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY cos_sim DESC, cid ASC) rnk
        |  FROM cs),
        |contrib AS (
        |  SELECT cast(query_id as bigint) query_id, cast(id as bigint) id,
        |    1000000000000 // (60 + rnk) c FROM tr WHERE rnk <= 20
        |  UNION ALL
        |  SELECT cast(query_id as bigint), cast(id as bigint),
        |    1000000000000 // (60 + rnk) FROM vr WHERE rnk <= 20),
        |f AS (SELECT query_id, id, cast(sum(c) as bigint) rrf_score
        |  FROM contrib GROUP BY 1, 2)
        |SELECT query_id, rnk, id, rrf_score FROM (
        |  SELECT query_id, id, rrf_score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rrf_score DESC, id) rnk
        |  FROM f)
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // the q_hybrid_rrf chain (verbatim through the fused top-10) +
    // the q_rerank feature tail at k = 10 (the whole shortlist emits);
    // vector-nominated docs with zero term overlap must survive with
    // rr_score 0 and rank by doc_id
    "q_rerank_hybrid" ->
      """WITH q(query_id, qtext) AS (VALUES
        |    (0, 'spark query engine'), (1, 'join filter window'),
        |    (2, 'customer order stream'), (3, 'table scan merge sort')),
        |qt AS (SELECT cast(query_id as bigint) query_id, term,
        |    cast(count(*) as bigint) qtf
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)
        |  GROUP BY 1, 2),
        |tf AS (SELECT doc_id, term, cast(count(*) as bigint) tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dln AS (SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) dl
        |  FROM documents),
        |a AS (SELECT cast(count(*) as bigint) n_docs,
        |    cast(sum(len(string_split(text, ' '))) as bigint)
        |      // cast(count(*) as bigint) AS avgdl
        |  FROM documents),
        |cand AS (SELECT tf.doc_id, tf.term, tf.tf, dln.dl
        |  FROM tf JOIN dln USING (doc_id)
        |  JOIN (SELECT DISTINCT term FROM qt) v USING (term)),
        |dft AS (SELECT term, cast(count(*) as bigint) df FROM cand GROUP BY 1),
        |sc AS (SELECT qt.query_id, c.doc_id,
        |    cast(sum(qt.qtf * ((((1000 * (2*a.n_docs - 2*dft.df + 1))
        |                     // (2*dft.df + 1)) * 44 * c.tf * a.avgdl)
        |        // (20*c.tf*a.avgdl + 6*a.avgdl + 18*c.dl))) as bigint)
        |      score_scaled
        |  FROM cand c JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN a
        |  GROUP BY 1, 2),
        |tr AS (SELECT query_id, doc_id AS id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score_scaled DESC, doc_id) rnk
        |  FROM sc),
        |nrm AS (
        |  SELECT vec_id, list_sum(list_transform(embedding,
        |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
        |  FROM embeddings),
        |dots AS (
        |  SELECT q2.vec_id qid, e.vec_id cid,
        |         list_sum(list_transform(list_zip(q2.embedding, e.embedding),
        |           p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
        |  FROM embeddings q2 JOIN embeddings e ON e.vec_id <> q2.vec_id
        |  WHERE q2.vec_id < 4),
        |cs AS (
        |  SELECT qid, cid,
        |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
        |  FROM dots JOIN nrm nq ON nq.vec_id = dots.qid
        |  JOIN nrm nc ON nc.vec_id = dots.cid),
        |vr AS (SELECT qid AS query_id, cid AS id,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY cos_sim DESC, cid ASC) rnk
        |  FROM cs),
        |contrib AS (
        |  SELECT cast(query_id as bigint) query_id, cast(id as bigint) id,
        |    1000000000000 // (60 + rnk) c FROM tr WHERE rnk <= 20
        |  UNION ALL
        |  SELECT cast(query_id as bigint), cast(id as bigint),
        |    1000000000000 // (60 + rnk) FROM vr WHERE rnk <= 20),
        |f AS (SELECT query_id, id, cast(sum(c) as bigint) rrf_score
        |  FROM contrib GROUP BY 1, 2),
        |short AS (SELECT query_id, id AS doc_id FROM (
        |  SELECT query_id, id, rrf_score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rrf_score DESC, id) rnk
        |  FROM f) WHERE rnk <= 10),
        |qterm AS (SELECT DISTINCT cast(query_id as bigint) query_id, term
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)),
        |w AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |dbg AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) i FROM w)),
        |qbg AS (SELECT DISTINCT cast(query_id as bigint) query_id,
        |    t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT query_id, string_split(qtext, ' ') t, unnest(range(1,
        |          len(string_split(qtext, ' ')))) i FROM q)),
        |tfeat AS (SELECT s.query_id, s.doc_id,
        |    cast(count(*) as bigint) matched,
        |    cast(sum(least(tf.tf, 3)) as bigint) capped_tf
        |  FROM short s JOIN qterm USING (query_id)
        |  JOIN tf ON tf.doc_id = s.doc_id AND tf.term = qterm.term
        |  GROUP BY 1, 2),
        |bfeat AS (SELECT s.query_id, s.doc_id, cast(count(*) as bigint) hits
        |  FROM short s JOIN qbg USING (query_id)
        |  JOIN dbg ON dbg.doc_id = s.doc_id AND dbg.b = qbg.b
        |  GROUP BY 1, 2),
        |rr AS (SELECT s.query_id, s.doc_id,
        |    cast((1000 * (4*coalesce(tfeat.matched, 0)
        |                  + 2*coalesce(tfeat.capped_tf, 0)
        |                  + 8*coalesce(bfeat.hits, 0))) // (20 + dln.dl)
        |      as bigint) AS rr_score
        |  FROM short s
        |  LEFT JOIN tfeat USING (query_id, doc_id)
        |  LEFT JOIN bfeat USING (query_id, doc_id)
        |  JOIN dln ON dln.doc_id = s.doc_id)
        |SELECT query_id, rnk, doc_id, rr_score FROM (
        |  SELECT query_id, doc_id, rr_score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rr_score DESC, doc_id) rnk
        |  FROM rr) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // q_rerank_hybrid's full retrieval + fusion + text-feature replay,
    // PLUS the semantic feature: int8 codes over the embedding corpus
    // (the q_embed_quantize chain, clamped), exact integer pair dots,
    // vec_pts = greatest(0, floor(qcos * 1000)), rr_score = text score
    // + 2 * vec_pts. The _frozen row passes the SemDedupState stats
    // member instead of training per call; the member is dimStats over
    // the same corpus, so both rows share this oracle bit-for-bit
    "q_rerank_vec" -> RerankVecOracle,
    "q_rerank_vec_frozen" -> RerankVecOracle,


    // per-dimension min/max "training" + the fixed IEEE chain
    // floor((x-mn)*254/(mx-mn)) - 127, weighted-summed per vector with
    // 1-based dimension weights (DuckDB lists are 1-based; Spark pos+1)
    "q_embed_quantize" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS d),
        |stats AS (
        |  SELECT d, min(cast(embedding[d] as double)) AS mn,
        |         max(cast(embedding[d] as double)) AS mx
        |  FROM embeddings CROSS JOIN dims GROUP BY d),
        |codes AS (
        |  SELECT e.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE cast(floor((cast(e.embedding[s.d] as double) - s.mn)
        |                * cast(254 as double) / (s.mx - s.mn)) as bigint) - 127
        |    END AS code
        |  FROM embeddings e CROSS JOIN stats s)
        |SELECT vec_id, cast(sum(code * d) as bigint) AS q_wsum,
        |  cast(min(code) as bigint) AS q_min, cast(max(code) as bigint) AS q_max
        |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Predicts every parsed container field independently from doc_id
    // (the encode parameters) — the Spark side must round-trip real
    // PPM/WAV bytes to match. Sample width: doc_id%4<2 -> 1 byte, else 2.
    "q_multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id%3 WHEN 1 THEN 'ppm' WHEN 2 THEN 'wav' ELSE 'raw' END AS codec,
        |  CASE doc_id%3
        |    WHEN 1 THEN cast(11 + (1+doc_id%7)*(1+doc_id%5)*3 as bigint)
        |    WHEN 2 THEN cast(44 + (1+doc_id%9)*(1+doc_id%2)*(CASE WHEN doc_id%4<2 THEN 1 ELSE 2 END) as bigint)
        |    ELSE cast(octet_length(encode(text)) as bigint) END AS n_bytes,
        |  CASE doc_id%3
        |    WHEN 1 THEN cast(1+doc_id%7 as bigint)
        |    WHEN 2 THEN cast(1+doc_id%2 as bigint)
        |    ELSE cast(octet_length(encode(text)) as bigint) END AS d1,
        |  CASE doc_id%3
        |    WHEN 1 THEN cast(1+doc_id%5 as bigint)
        |    WHEN 2 THEN cast(8000+1000*(doc_id%5) as bigint)
        |    ELSE cast(0 as bigint) END AS d2,
        |  CASE doc_id%3
        |    WHEN 1 THEN cast(255 as bigint)
        |    WHEN 2 THEN cast(CASE WHEN doc_id%4<2 THEN 8 ELSE 16 END as bigint)
        |    ELSE cast(0 as bigint) END AS d3
        |FROM documents ORDER BY media_id""".stripMargin,

    // after transformMedia(tw=2, th=2, stride=2): images are 2x2 (11-byte
    // header + 12 pixel bytes), audio keeps ceil(frames/2) frames at
    // half rate, raw passes through — all predictable from doc_id
    "q_multimodal_transform" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id%3 WHEN 1 THEN 'ppm' WHEN 2 THEN 'wav' ELSE 'raw' END AS codec,
        |  CASE doc_id%3
        |    WHEN 1 THEN cast(23 as bigint)
        |    WHEN 2 THEN cast(44 + ((1+doc_id%9 + 1)//2) * (1+doc_id%2)
        |                     * (CASE WHEN doc_id%4<2 THEN 1 ELSE 2 END) as bigint)
        |    ELSE cast(octet_length(encode(text)) as bigint) END AS n_bytes,
        |  CASE doc_id%3
        |    WHEN 1 THEN cast(2 as bigint)
        |    WHEN 2 THEN cast(1+doc_id%2 as bigint)
        |    ELSE cast(octet_length(encode(text)) as bigint) END AS d1,
        |  CASE doc_id%3
        |    WHEN 1 THEN cast(2 as bigint)
        |    WHEN 2 THEN cast((8000+1000*(doc_id%5))//2 as bigint)
        |    ELSE cast(0 as bigint) END AS d2,
        |  CASE doc_id%3
        |    WHEN 1 THEN cast(255 as bigint)
        |    WHEN 2 THEN cast(CASE WHEN doc_id%4<2 THEN 8 ELSE 16 END as bigint)
        |    ELSE cast(0 as bigint) END AS d3
        |FROM documents ORDER BY media_id""".stripMargin,
  )

  /** Exact top-5 cosine neighbors for query vectors vec_id < 10 — shared
    * by the window and UDAF variants (same answer by construction). */
  private lazy val CosineTopkOracle: String =
    """WITH n AS (
      |  SELECT vec_id, list_sum(list_transform(embedding,
      |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
      |  FROM embeddings),
      |t AS (
      |  SELECT q.vec_id qid, e.vec_id cid,
      |         list_sum(list_transform(list_zip(q.embedding, e.embedding),
      |           p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
      |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |s AS (
      |  SELECT qid, cid,
      |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
      |  FROM t JOIN n nq ON nq.vec_id = t.qid JOIN n nc ON nc.vec_id = t.cid),
      |r AS (SELECT qid AS query_id, cid AS neighbor_id, cos_sim,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) rnk
      |      FROM s)
      |SELECT query_id, rnk, neighbor_id, cos_sim FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** A merges table as a SQL VALUES literal. Sides are provably ASCII
    * alphanumeric for any table over [[graft.ext.Bpe.pretokens]] output —
    * letter runs and digit runs are the only multi-char words (a
    * punctuation word is one char, so it has no pairs to merge) — but
    * verify anyway: an unquotable token must fail here, not corrupt SQL. */
  private def mergesValuesSql(merges: Seq[(String, String)]): String = {
    require(merges.nonEmpty, "empty merges table has no VALUES form")
    merges.zipWithIndex.map { case ((a, b), r) =>
      require((a + b).forall(c =>
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')),
        s"unquotable merge token ($a,$b)")
      s"('$a', '$b', $r)"
    }.mkString("(VALUES ", ", ", ") m(a, b, r)")
  }

  /** The standard merges table as a SQL VALUES literal. */
  private lazy val BpeMergesValues: String =
    mergesValuesSql(graft.ext.Bpe.StandardMerges)

  /** Replay of the BPE encoder as a recursive CTE — the shared prefix of
    * `q_bpe_tokens` and `q_pack_bpe`: each step merges every occurrence
    * of the lowest-rank adjacent pair (the parallel per-position rewrite
    * is equivalent to the engine's sequential pass because
    * [[graft.ext.BpeTable]] forbids self-merges, making passes
    * conflict-free), and a word is terminal when no adjacent pair is in
    * the table. Distinct words encode once (`fin`), then join back to
    * the per-document word stream (`w`). */
  private lazy val BpeEncodeCtes: String = bpeEncodeCtes(BpeMergesValues)

  private def bpeEncodeCtes(mergesValues: String): String =
    s"""merges AS (SELECT * FROM $mergesValues),
       |d AS (SELECT doc_id,
       |        regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') ws
       |      FROM documents),
       |wp AS (SELECT doc_id, unnest(range(1, len(ws)+1)) wpos, ws FROM d),
       |w AS (SELECT doc_id, wpos, ws[wpos] word FROM wp),
       |dw AS (SELECT DISTINCT word FROM w),
       |enc AS (
       |  SELECT word, string_split(word, '') t FROM dw
       |  UNION ALL
       |  SELECT word,
       |    list_filter(
       |      list_transform(range(1, len(t)+1), i ->
       |        CASE WHEN i < len(t) AND t[i] = m.a AND t[i+1] = m.b THEN t[i]||t[i+1]
       |             WHEN i > 1 AND t[i-1] = m.a AND t[i] = m.b THEN NULL
       |             ELSE t[i] END),
       |      x -> x IS NOT NULL)
       |  FROM (
       |    SELECT word, t,
       |      (SELECT min(r) FROM merges WHERE list_contains(
       |        list_transform(range(1, len(t)), i -> t[i]||chr(1)||t[i+1]),
       |        a||chr(1)||b)) br
       |    FROM enc) s
       |  JOIN merges m ON m.r = s.br
       |),
       |fin AS (
       |  SELECT word, t FROM enc e
       |  WHERE (SELECT min(r) FROM merges WHERE list_contains(
       |    list_transform(range(1, len(e.t)), i -> e.t[i]||chr(1)||e.t[i+1]),
       |    a||chr(1)||b)) IS NULL)""".stripMargin

  private lazy val BpeTokensOracle: String = bpeTokensOracle(BpeEncodeCtes)

  private def bpeTokensOracle(ctes: String): String =
    s"""WITH RECURSIVE $ctes,
       |agg AS (
       |  SELECT w.doc_id,
       |    cast(sum(len(f.t)) as bigint) n_tokens,
       |    string_agg(array_to_string(f.t, '|'), '|' ORDER BY w.wpos) stream
       |  FROM w JOIN fin f ON f.word = w.word
       |  GROUP BY w.doc_id)
       |SELECT d2.doc_id, cast(coalesce(a.n_tokens, 0) as bigint) AS n_tokens,
       |       md5(coalesce(a.stream, '')) AS token_fp
       |FROM documents d2 LEFT JOIN agg a ON a.doc_id = d2.doc_id
       |ORDER BY d2.doc_id""".stripMargin

  /** Token-exact packing: the q_pack window arithmetic re-derived on the
    * BPE token counts — budget-true context windows instead of the
    * whitespace approximation. */
  private lazy val PackBpeOracle: String =
    s"""WITH RECURSIVE $BpeEncodeCtes,
       |cnt AS (
       |  SELECT w.doc_id, cast(sum(len(f.t)) as bigint) n_tok
       |  FROM w JOIN fin f ON f.word = w.word GROUP BY w.doc_id),
       |t AS (SELECT d2.doc_id, d2.source AS stream,
       |    cast(coalesce(c.n_tok, 0) as bigint) n_tok
       |  FROM documents d2 LEFT JOIN cnt c ON c.doc_id = d2.doc_id),
       |o AS (SELECT doc_id, stream, n_tok,
       |    cast(coalesce(sum(n_tok) OVER (PARTITION BY stream ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) ofs
       |  FROM t)
       |SELECT doc_id, stream, n_tok, ofs AS "offset",
       |  cast(ofs // 256 as bigint) AS start_bin,
       |  cast((ofs + greatest(n_tok - 1, 0)) // 256 as bigint) AS end_bin
       |FROM o ORDER BY stream, doc_id""".stripMargin

  /** The exact scaled-integer dot between two float-list SQL expressions —
    * DuckDB's replay of [[graft.functions.DotScaled]]: floor(double ·
    * double · 1e15) per element, integer sum (order-independent). */

  private lazy val RerankVecOracle: String =
    """WITH q(query_id, qtext) AS (VALUES
        |    (0, 'spark query engine'), (1, 'join filter window'),
        |    (2, 'customer order stream'), (3, 'table scan merge sort')),
        |qt AS (SELECT cast(query_id as bigint) query_id, term,
        |    cast(count(*) as bigint) qtf
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)
        |  GROUP BY 1, 2),
        |tf AS (SELECT doc_id, term, cast(count(*) as bigint) tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dln AS (SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) dl
        |  FROM documents),
        |a AS (SELECT cast(count(*) as bigint) n_docs,
        |    cast(sum(len(string_split(text, ' '))) as bigint)
        |      // cast(count(*) as bigint) AS avgdl
        |  FROM documents),
        |cand AS (SELECT tf.doc_id, tf.term, tf.tf, dln.dl
        |  FROM tf JOIN dln USING (doc_id)
        |  JOIN (SELECT DISTINCT term FROM qt) v USING (term)),
        |dft AS (SELECT term, cast(count(*) as bigint) df FROM cand GROUP BY 1),
        |sc AS (SELECT qt.query_id, c.doc_id,
        |    cast(sum(qt.qtf * ((((1000 * (2*a.n_docs - 2*dft.df + 1))
        |                     // (2*dft.df + 1)) * 44 * c.tf * a.avgdl)
        |        // (20*c.tf*a.avgdl + 6*a.avgdl + 18*c.dl))) as bigint)
        |      score_scaled
        |  FROM cand c JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN a
        |  GROUP BY 1, 2),
        |tr AS (SELECT query_id, doc_id AS id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score_scaled DESC, doc_id) rnk
        |  FROM sc),
        |nrm AS (
        |  SELECT vec_id, list_sum(list_transform(embedding,
        |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
        |  FROM embeddings),
        |dots AS (
        |  SELECT q2.vec_id qid, e.vec_id cid,
        |         list_sum(list_transform(list_zip(q2.embedding, e.embedding),
        |           p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
        |  FROM embeddings q2 JOIN embeddings e ON e.vec_id <> q2.vec_id
        |  WHERE q2.vec_id < 4),
        |cs AS (
        |  SELECT qid, cid,
        |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
        |  FROM dots JOIN nrm nq ON nq.vec_id = dots.qid
        |  JOIN nrm nc ON nc.vec_id = dots.cid),
        |vr AS (SELECT qid AS query_id, cid AS id,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY cos_sim DESC, cid ASC) rnk
        |  FROM cs),
        |contrib AS (
        |  SELECT cast(query_id as bigint) query_id, cast(id as bigint) id,
        |    1000000000000 // (60 + rnk) c FROM tr WHERE rnk <= 20
        |  UNION ALL
        |  SELECT cast(query_id as bigint), cast(id as bigint),
        |    1000000000000 // (60 + rnk) FROM vr WHERE rnk <= 20),
        |f AS (SELECT query_id, id, cast(sum(c) as bigint) rrf_score
        |  FROM contrib GROUP BY 1, 2),
        |short AS (SELECT query_id, id AS doc_id FROM (
        |  SELECT query_id, id, rrf_score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rrf_score DESC, id) rnk
        |  FROM f) WHERE rnk <= 10),
        |qterm AS (SELECT DISTINCT cast(query_id as bigint) query_id, term
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) term FROM q)),
        |w AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |dbg AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) i FROM w)),
        |qbg AS (SELECT DISTINCT cast(query_id as bigint) query_id,
        |    t[i] || ' ' || t[i+1] AS b
        |  FROM (SELECT query_id, string_split(qtext, ' ') t, unnest(range(1,
        |          len(string_split(qtext, ' ')))) i FROM q)),
        |tfeat AS (SELECT s.query_id, s.doc_id,
        |    cast(count(*) as bigint) matched,
        |    cast(sum(least(tf.tf, 3)) as bigint) capped_tf
        |  FROM short s JOIN qterm USING (query_id)
        |  JOIN tf ON tf.doc_id = s.doc_id AND tf.term = qterm.term
        |  GROUP BY 1, 2),
        |bfeat AS (SELECT s.query_id, s.doc_id, cast(count(*) as bigint) hits
        |  FROM short s JOIN qbg USING (query_id)
        |  JOIN dbg ON dbg.doc_id = s.doc_id AND dbg.b = qbg.b
        |  GROUP BY 1, 2),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |qstats AS (
        |  SELECT d, min(cast(embedding[d] as double)) AS mn,
        |         max(cast(embedding[d] as double)) AS mx
        |  FROM embeddings CROSS JOIN dims GROUP BY d),
        |qcodes AS (
        |  SELECT e.vec_id, s.d,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE greatest(-127, least(127,
        |           cast(floor((cast(e.embedding[s.d] as double) - s.mn)
        |                * cast(254 as double) / (s.mx - s.mn)) as bigint) - 127))
        |    END AS code
        |  FROM embeddings e CROSS JOIN qstats s),
        |qv2 AS (SELECT vec_id, list(code ORDER BY d) AS c FROM qcodes GROUP BY vec_id),
        |qn2 AS (SELECT vec_id, cast(list_sum(list_transform(c, x -> x*x)) as bigint) AS n2 FROM qv2),
        |vecf AS (SELECT s.query_id, s.doc_id,
        |    greatest(0, cast(floor(
        |      CASE WHEN nq.n2 = 0 OR nd.n2 = 0 THEN cast(-2 as double)
        |           ELSE cast(list_sum(list_transform(range(1,65), i -> cq.c[i]*cd.c[i])) as double)
        |                / sqrt(cast(nq.n2 as double)*cast(nd.n2 as double)) END
        |      * cast(1000 as double)) as bigint)) AS vec_pts
        |  FROM short s
        |  JOIN qv2 cq ON cq.vec_id = s.query_id JOIN qv2 cd ON cd.vec_id = s.doc_id
        |  JOIN qn2 nq ON nq.vec_id = s.query_id JOIN qn2 nd ON nd.vec_id = s.doc_id),
        |rr AS (SELECT s.query_id, s.doc_id,
        |    cast((1000 * (4*coalesce(tfeat.matched, 0)
        |                  + 2*coalesce(tfeat.capped_tf, 0)
        |                  + 8*coalesce(bfeat.hits, 0))) // (20 + dln.dl)
        |      + 2 * coalesce(vecf.vec_pts, 0) as bigint) AS rr_score
        |  FROM short s
        |  LEFT JOIN tfeat USING (query_id, doc_id)
        |  LEFT JOIN bfeat USING (query_id, doc_id)
        |  LEFT JOIN vecf USING (query_id, doc_id)
        |  JOIN dln ON dln.doc_id = s.doc_id)
        |SELECT query_id, rnk, doc_id, rr_score FROM (
        |  SELECT query_id, doc_id, rr_score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rr_score DESC, doc_id) rnk
        |  FROM rr) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  private def sqlDot(a: String, b: String): String =
    s"""cast(list_sum(list_transform(list_zip($a, $b),
       |      x -> cast(floor(cast(x[1] as double)*cast(x[2] as double)*1e15) as bigint))) as bigint)""".stripMargin

  /** The seeded ANN hyperplanes as a SQL VALUES literal. Float components
    * widen to double exactly, and `Double.toString` round-trips, so DuckDB
    * computes signature dots on bit-identical constants. */
  private lazy val AnnPlanesValues: String =
    graft.ext.Similarity.annHyperplanes.zipWithIndex.map { case (h, i) =>
      s"($i, [${h.map(f => f.toDouble.toString).mkString(", ")}])"
    }.mkString("(VALUES\n    ", ",\n    ", ") p(plane_id, hvec)")

  /** Full replay of the production hyperplane-LSH ANN (4 bands x 4 bits,
    * k = 5): signature bit j = sign of the exact scaled-integer dot with
    * seeded plane j, band keys are 4-bit slices, candidates share >= 1
    * (band, bkey), and the final rank is the exact cosine within
    * candidates only — identical, step for step, to
    * [[graft.ext.Similarity.topKAnn]]'s dataflow. */
  private lazy val CosineAnnOracle: String =
    s"""WITH planes AS (SELECT * FROM $AnnPlanesValues),
       |sig AS (
       |  SELECT e.vec_id,
       |    cast(sum(CASE WHEN ${sqlDot("e.embedding", "p.hvec")} > 0
       |             THEN (cast(1 as bigint) << p.plane_id)
       |             ELSE cast(0 as bigint) END) as bigint) AS sig
       |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id),
       |bands AS (
       |  SELECT vec_id, b.band, (sig >> (b.band * 4)) & 15 AS bkey
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
       |  FROM bands q JOIN bands c ON q.band = c.band AND q.bkey = c.bkey
       |    AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |n AS (
       |  SELECT vec_id, list_sum(list_transform(embedding,
       |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
       |  FROM embeddings),
       |t AS (
       |  SELECT cand.qid, cand.cid,
       |         ${sqlDot("q.embedding", "e.embedding")} dots
       |  FROM cand JOIN embeddings q ON q.vec_id = cand.qid
       |            JOIN embeddings e ON e.vec_id = cand.cid),
       |s AS (
       |  SELECT qid, cid,
       |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
       |  FROM t JOIN n nq ON nq.vec_id = t.qid JOIN n nc ON nc.vec_id = t.cid),
       |r AS (SELECT qid AS query_id, cid AS neighbor_id, cos_sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) rnk
       |      FROM s)
       |SELECT query_id, rnk, neighbor_id, cos_sim FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** Full replay of the partial-probe IVF (16 lists, probe 4, k = 5,
    * iters = 0): centroids are the first 16 vectors by vec_id, every
    * vector joins its argmax-dot list (ties -> lower cid), each query
    * probes its 4 nearest lists, and ranking is the exact cosine inside
    * the probed lists only — identical to
    * [[graft.ext.Ivf.topKIvf]](iters = 0)'s dataflow. */
  /** Full SQL replay of the production PQ path (`q_cosine_pq`): the
    * iters=0 codebook is the first 16 vectors' 8-dim sub-slices (cid =
    * vec_id rank), assignment is the exact integer sub-distance
    * ||x-c||² = dot(x,x) - 2·dot(x,c) + dot(c,c) with (d2, cid)
    * tie-break, ADC scores sum the per-subspace query·centroid scaled
    * dots over each neighbor's codes, the top-50 shortlist feeds the
    * exact cosine re-rank. Integer math end to end — the one float
    * step (cos_sim) is the same IEEE divide/sqrt as CosineTopkOracle. */
  private lazy val CosinePqOracle: String =
    s"""WITH seeds AS (
       |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) cid, embedding
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       |ss AS (SELECT unnest(range(0, 8)) sub),
       |cb AS (SELECT sub, cid, embedding[sub*8+1 : sub*8+8] cvec
       |       FROM seeds CROSS JOIN ss),
       |sv AS (SELECT vec_id, sub, embedding[sub*8+1 : sub*8+8] svec
       |       FROM embeddings CROSS JOIN ss),
       |ad AS (SELECT sv.vec_id, sv.sub, cb.cid,
       |         ${sqlDot("sv.svec", "sv.svec")} - 2*${sqlDot("sv.svec", "cb.cvec")}
       |           + ${sqlDot("cb.cvec", "cb.cvec")} d2
       |       FROM sv JOIN cb ON cb.sub = sv.sub),
       |asn AS (SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, cid ASC) rn
       |    FROM ad) WHERE rn = 1),
       |lut AS (SELECT sv.vec_id query_id, sv.sub, cb.cid,
       |          ${sqlDot("sv.svec", "cb.cvec")} d
       |        FROM sv JOIN cb ON cb.sub = sv.sub WHERE sv.vec_id < 10),
       |adc AS (SELECT l.query_id, a.vec_id neighbor_id, cast(sum(l.d) as bigint) score
       |        FROM asn a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
       |        WHERE a.vec_id <> l.query_id GROUP BY 1, 2),
       |sl AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn
       |    FROM adc) WHERE rn <= 50),
       |n AS (SELECT vec_id, list_sum(list_transform(embedding,
       |        x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
       |      FROM embeddings),
       |t AS (SELECT s.query_id qid, s.neighbor_id cid,
       |        ${sqlDot("q.embedding", "e.embedding")} dots
       |      FROM sl s JOIN embeddings q ON q.vec_id = s.query_id
       |                JOIN embeddings e ON e.vec_id = s.neighbor_id),
       |sc AS (SELECT qid, cid,
       |        cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
       |       FROM t JOIN n nq ON nq.vec_id = t.qid JOIN n nc ON nc.vec_id = t.cid),
       |r AS (SELECT qid AS query_id, cid AS neighbor_id, cos_sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) rnk
       |      FROM sc)
       |SELECT query_id, rnk, neighbor_id, cos_sim FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** Full SQL replay of IVF-PQ (`q_cosine_ivfpq`): coarse route (first
    * 16 vectors as centroids, max-int-dot assignment), DOUBLE-exact
    * residuals, residual codebooks from the first 16 residual slices,
    * (d2, code)-tie-broken code assignment, ADC = coarse dot + per-sub
    * LUT sum, top-50 shortlist, exact cosine re-rank. */
  /** Exact all-pairs + recursive-CTE closure over the union corpus
    * (originals + 50 perturbed copies): component(v) = min reachable id
    * (incl. self), census per component. Gates BOTH the one-shot
    * `q_embed_cluster` and the persisted-incremental
    * `q_embed_cluster_grown` — incremental ≡ one-shot by contraction
    * exactness (scaladoc on [[graft.ext.Clusters.extend]]). */
  private lazy val EmbedClusterOracle: String =
    """WITH RECURSIVE u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000,
      |    list_transform(embedding,
      |      x -> cast(cast(x as double) * cast(1.01 as double) as float))
      |  FROM embeddings WHERE vec_id < 50),
      |n AS (SELECT vec_id, list_sum(list_transform(embedding,
      |        x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
      |      FROM u),
      |d AS (SELECT a.vec_id va, b.vec_id vb,
      |        list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |          p -> cast(floor(cast(p[1] as double)*cast(p[2] as double)*1e15) as bigint))) dots
      |      FROM u a JOIN u b ON a.vec_id < b.vec_id),
      |p AS (SELECT va, vb FROM d
      |      JOIN n na ON na.vec_id = va JOIN n nb ON nb.vec_id = vb
      |      WHERE cast(dots as double)/sqrt(cast(na.n2 as double)*cast(nb.n2 as double))
      |            >= cast(0.9 as double)),
      |ed AS (SELECT va a, vb b FROM p UNION SELECT vb, va FROM p),
      |rch AS (SELECT a, b FROM ed
      |        UNION
      |        SELECT r.a, e.b FROM rch r JOIN ed e ON r.b = e.a AND r.a <> e.b),
      |comp AS (SELECT v.a AS vec_id,
      |           least(v.a, min(r.b)) AS component
      |         FROM (SELECT DISTINCT a FROM ed) v JOIN rch r ON r.a = v.a
      |         GROUP BY v.a)
      |SELECT component, count(*) AS n_members
      |FROM comp GROUP BY component ORDER BY component""".stripMargin

  private lazy val CosineIvfPqOracle: String = cosineIvfPqOracleFor("vec_id < 10")

  /** The IVF-PQ replay oracle, parameterized by the query-set predicate
    * (over the unqualified `vec_id` of the embeddings table) — the same
    * SQL gates both the broadcast-probe row (bounded query batch) and
    * the shuffled self-join row (queries = corpus): the replayed math is
    * identical, only the engine's physical join strategy differs. */
  private def cosineIvfPqOracleFor(qPred: String): String =
    s"""WITH c AS (
       |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) AS cid,
       |         embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       |ad AS (
       |  SELECT e.vec_id, c.cid, ${sqlDot("e.embedding", "c.cvec")} dot
       |  FROM embeddings e CROSS JOIN c),
       |asn AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) rn
       |    FROM ad) WHERE rn = 1),
       |pr AS (
       |  SELECT query_id, cid, cdot FROM (
       |    SELECT vec_id AS query_id, cid, dot AS cdot,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) rn
       |    FROM ad WHERE $qPred) WHERE rn <= 4),
       |r AS (
       |  SELECT e.vec_id, a.cid,
       |    list_transform(list_zip(e.embedding, c.cvec),
       |      x -> cast(x[1] as double) - cast(x[2] as double)) res
       |  FROM embeddings e JOIN asn a ON a.vec_id = e.vec_id
       |       JOIN c ON c.cid = a.cid),
       |ss AS (SELECT unnest(range(0, 8)) sub),
       |cbs AS (
       |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) code, res
       |  FROM (SELECT vec_id, res FROM r ORDER BY vec_id LIMIT 16)),
       |cb AS (SELECT sub, code, res[sub*8+1 : sub*8+8] rvec FROM cbs CROSS JOIN ss),
       |sv AS (SELECT vec_id, cid, sub, res[sub*8+1 : sub*8+8] svec
       |       FROM r CROSS JOIN ss),
       |d2t AS (
       |  SELECT sv.vec_id, sv.cid, sv.sub, cb.code,
       |    ${sqlDot("sv.svec", "sv.svec")} - 2*${sqlDot("sv.svec", "cb.rvec")}
       |      + ${sqlDot("cb.rvec", "cb.rvec")} d2
       |  FROM sv JOIN cb ON cb.sub = sv.sub),
       |codes AS (SELECT vec_id, cid, sub, code FROM (
       |    SELECT vec_id, cid, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) rn
       |    FROM d2t) WHERE rn = 1),
       |qs AS (SELECT e.vec_id query_id, ss.sub,
       |         e.embedding[ss.sub*8+1 : ss.sub*8+8] qsv
       |       FROM embeddings e CROSS JOIN ss WHERE e.$qPred),
       |lut AS (SELECT qs.query_id, qs.sub, cb.code,
       |          ${sqlDot("qs.qsv", "cb.rvec")} d
       |        FROM qs JOIN cb ON cb.sub = qs.sub),
       |adc AS (
       |  SELECT p.query_id, k.vec_id neighbor_id,
       |    cast(max(p.cdot) + sum(l.d) as bigint) score
       |  FROM pr p JOIN codes k ON k.cid = p.cid AND k.vec_id <> p.query_id
       |       JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub
       |                 AND l.code = k.code
       |  GROUP BY 1, 2),
       |sl AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn
       |    FROM adc) WHERE rn <= 50),
       |n AS (SELECT vec_id, list_sum(list_transform(embedding,
       |        x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
       |      FROM embeddings),
       |t AS (SELECT s.query_id qid, s.neighbor_id cid2,
       |        ${sqlDot("q.embedding", "e.embedding")} dots
       |      FROM sl s JOIN embeddings q ON q.vec_id = s.query_id
       |                JOIN embeddings e ON e.vec_id = s.neighbor_id),
       |sc AS (SELECT qid, cid2,
       |        cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
       |       FROM t JOIN n nq ON nq.vec_id = t.qid JOIN n nc ON nc.vec_id = t.cid2),
       |rr AS (SELECT qid AS query_id, cid2 AS neighbor_id, cos_sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid2 ASC) rnk
       |      FROM sc)
       |SELECT query_id, rnk, neighbor_id, cos_sim FROM rr WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  private lazy val CosineIvfOracle: String =
    s"""WITH c AS (
       |  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as integer) AS cid,
       |         embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       |ad AS (
       |  SELECT e.vec_id, c.cid, ${sqlDot("e.embedding", "c.cvec")} dot
       |  FROM embeddings e CROSS JOIN c),
       |asn AS (
       |  SELECT vec_id AS neighbor_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) rn
       |    FROM ad) WHERE rn = 1),
       |pr AS (
       |  SELECT query_id, cid FROM (
       |    SELECT vec_id AS query_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC) rn
       |    FROM ad WHERE vec_id < 10) WHERE rn <= 4),
       |n AS (
       |  SELECT vec_id, list_sum(list_transform(embedding,
       |           x -> cast(floor(cast(x as double)*cast(x as double)*1e15) as bigint))) n2
       |  FROM embeddings),
       |t AS (
       |  SELECT pr.query_id qid, asn.neighbor_id cid,
       |         ${sqlDot("q.embedding", "e.embedding")} dots
       |  FROM pr JOIN asn ON asn.cid = pr.cid AND asn.neighbor_id <> pr.query_id
       |          JOIN embeddings q ON q.vec_id = pr.query_id
       |          JOIN embeddings e ON e.vec_id = asn.neighbor_id),
       |s AS (
       |  SELECT qid, cid,
       |    cast(dots as double)/sqrt(cast(nq.n2 as double)*cast(nc.n2 as double)) cos_sim
       |  FROM t JOIN n nq ON nq.vec_id = t.qid JOIN n nc ON nc.vec_id = t.cid),
       |r AS (SELECT qid AS query_id, cid AS neighbor_id, cos_sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) rnk
       |      FROM s)
       |SELECT query_id, rnk, neighbor_id, cos_sim FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
}
