"""LLM-data curation job classes (Spark-first extensions; SURVEY.md §2.7).

The reference's job-class surface stops at warehouse verbs (load, insert,
rebuild, ...). A training-data pipeline additionally needs the curation
operators (quality classifier, cross-snapshot near-dedup, registry
maintenance) runnable as jobnet stages with the same parameter/resume
contract — these classes wrap the operators in
``bricolage_spark.operators`` so the example curation jobnet and a real
recurring crawl can compose them declaratively.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from bricolage_spark.exception import JobFailure, ParameterError
from bricolage_spark.jobs import Job, JobResult, jobclass
from bricolage_spark.parameters import ParamSchema, StringParam, TableParam


@jobclass(
    "classifier-filter",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            StringParam("text-column", optional=True),
            StringParam("threshold", optional=True),
        ]
    ),
)
def classifier_filter(job: Job) -> JobResult:
    """Keep only docs the hashed-ngram quality classifier accepts (q83).

    Row-local scoring (operators.textual.hashed_ngram_keep): the keep
    predicate evaluates inside the scan of ``src-table`` — zero shuffle,
    the weight table is a broadcast-sized literal. The stage-and-swap
    write is the only data movement.
    """
    from bricolage_spark.operators.textual import hashed_ngram_keep

    dest = job.require("dest-table")
    src = job.require("src-table")
    text_col = str(job.param("text-column", "text"))
    threshold = float(job.param("threshold", 0.5))
    kept = job.engine.table(src).where(hashed_ngram_keep(text_col, threshold))
    n = job.engine.save_table(kept, dest, mode="overwrite")
    return JobResult(
        message=f"classifier kept {n} docs from {src} (threshold {threshold})",
        rows=n,
    )


@jobclass(
    "neardup-history",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            TableParam("registry-table"),
            StringParam("id-column", optional=True),
            StringParam("text-column", optional=True),
            StringParam("snapshot", optional=True),
        ]
    ),
)
def neardup_history(job: Job) -> JobResult:
    """Cross-snapshot near-dedup stage (q82): drop batch docs that
    near-duplicate ANY previously ingested snapshot, then append the
    surviving docs' band signatures to the registry.

    The probe touches only the registry's ~40-byte (band_id, band_hash)
    rows — one left-semi join + a doc-keyed count; history bodies are
    never rescanned, so a recurring crawl pays O(batch) per snapshot.
    A missing registry table bootstraps empty (first snapshot keeps
    everything). The registry append records this batch's bands with an
    optional ``snapshot`` label so ``registry-compact`` can age out and
    keep first-seen metadata. The probe/append body is shared with the
    streaming foreachBatch path
    (``streaming.curation.curate_batch_against_history``).
    """
    from bricolage_spark.streaming.curation import curate_batch_against_history

    dest = job.require("dest-table")
    src = job.require("src-table")
    reg_table = job.require("registry-table")
    kept = curate_batch_against_history(
        job.engine.table(src),
        job.engine,
        reg_table,
        id_col=str(job.param("id-column", "doc_id")),
        text_col=str(job.param("text-column", "text")),
        snapshot=job.param("snapshot"),
    )
    n = job.engine.save_table(kept, dest, mode="overwrite")
    return JobResult(
        message=f"{n} docs survive history near-dedup into {dest}; "
        f"bands appended to {reg_table}",
        rows=n,
    )


@jobclass(
    "registry-compact",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            StringParam("key-columns", optional=True),
            StringParam("snapshot-column", optional=True),
            StringParam("keep-snapshots", optional=True),
            StringParam("target-partitions", optional=True),
            StringParam("buckets", optional=True),
        ]
    ),
)
def registry_compact(job: Job) -> JobResult:
    """Maintain an append-only dedup registry (completes q67/q82).

    Digest registries (one ``content_hash`` per ingested doc) and LSH
    band registries (``band_id, band_hash`` per signature band) grow by
    appending each batch's rows. After many snapshots they hold the same
    key many times (a common band recurs in every batch) and thousands
    of small part files — both tax the per-batch probe join that keeps
    incremental dedup O(batch). This job compacts without changing any
    probe verdict (a left-semi/anti join only tests key EXISTENCE):

    - ``key-columns`` (comma list; default: all columns) — output keeps
      exactly one row per distinct key;
    - ``snapshot-column`` — when set, non-key columns survive from the
      EARLIEST-snapshot row per key (min_by via a struct-min aggregate:
      one shuffle of key+payload, no window), so "first seen" metadata
      is stable under compaction; without it the representative row is
      arbitrary (``dropDuplicates``);
    - ``keep-snapshots`` N — optional age-out: rows whose snapshot value
      is not among the newest N distinct snapshots are dropped first
      (the distinct-snapshot list is batch-count-sized metadata, safe to
      collect at any corpus scale);
    - the rewrite is stage-and-swap at ``target-partitions`` files (or
      the vacuum heuristic, current file count / 4);
    - ``buckets`` N — the registry is a BUCKETED catalog table (the
      span-anchor registry's layout) CLUSTERED BY the key columns:
      read through ``engine.bucketed_table`` and rewritten bucketed,
      so compaction preserves the co-location the probe join relies
      on. Requires explicit ``key-columns``; conflicts with
      ``target-partitions`` (the rewrite lands at exactly N files).
      When the registry still lives as a PLAIN table (no bucketed
      files yet), this job IS the one-time layout migration: it reads
      the plain rows, writes them bucketed, and retires the plain
      table — the path ``span_registry_prior``'s layout-flip guard
      points at.
    """
    dest = job.require("dest-table")
    n_bkts = int(job.param("buckets", 0) or 0)
    if n_bkts:
        if job.param("target-partitions"):
            # a bucketed rewrite always lands at n_buckets files — a
            # caller passing both must not silently lose one parameter
            raise ParameterError(
                "registry-compact: target-partitions conflicts with "
                "buckets (a bucketed rewrite lands at exactly `buckets` "
                "files) — drop one"
            )
        if not job.param("key-columns"):
            raise ParameterError(
                "registry-compact: buckets requires explicit key-columns "
                "(the bucketing columns)"
            )
        bucket_keys = [
            c.strip()
            for c in str(job.param("key-columns")).split(",")
            if c.strip()
        ]
        migrate_plain = (
            not job.engine.bucketed_table_exists(dest)
            and job.engine.table_exists(dest)
        )
        if migrate_plain:
            # ONE-TIME layout migration: a plain registry meeting
            # `buckets: N` for the first time reads as plain, rewrites
            # bucketed below, and the plain table is dropped after the
            # swap — this is the documented migration path for the
            # layout-flip guard in span_registry_prior (which refuses to
            # probe-against-nothing and points here).
            df = job.engine.table(dest)
        else:
            # read with the WRITTEN spec, write with the requested one:
            # this job IS the documented bucket-count migration (the
            # drift guard's error message points here), so reading with
            # the caller's (possibly new) count would fail the guard
            # circularly. The sidecar carries the written contract.
            cur = job.engine.bucket_spec(dest)
            if cur:
                df = job.engine.bucketed_table(
                    dest,
                    list(cur["bucket_cols"]),
                    int(cur["n_buckets"]),
                    list(cur.get("sort_cols") or cur["bucket_cols"]),
                )
            else:
                df = job.engine.bucketed_table(dest, bucket_keys, n_bkts)
    else:
        migrate_plain = False
        df = job.engine.table(dest)
    all_cols = df.columns
    keys_raw = job.param("key-columns")
    keys = (
        [c.strip() for c in str(keys_raw).split(",") if c.strip()]
        if keys_raw
        else list(all_cols)
    )
    snap = job.param("snapshot-column")
    for c in keys + ([snap] if snap else []):
        if c not in all_cols:
            raise ParameterError(f"registry-compact: no such column: {c}")

    dropped_snapshots = 0
    if snap and job.param("keep-snapshots"):
        # "newest" orders labels LEXICOGRAPHICALLY — use sortable labels
        # (ISO dates, the $data_date convention); 'snap10' sorts below
        # 'snap9'. NULL-labeled rows (appends from before labels
        # existed) are of unknown age: they are always KEPT — an age-out
        # that silently erased history of unknown age would re-admit its
        # duplicates — and registry-compact's key dedup still collapses
        # them to one row per key.
        n_keep = int(job.param("keep-snapshots"))
        snaps = [r[0] for r in df.select(snap).distinct().collect()]
        labeled = [s for s in snaps if s is not None]
        newest = sorted(labeled, reverse=True)[:n_keep]
        dropped_snapshots = len(labeled) - len(newest)
        if dropped_snapshots:
            df = df.where(F.col(snap).isNull() | F.col(snap).isin(newest))

    others = [c for c in all_cols if c not in keys]
    if not others:
        compacted = df.distinct()
    elif snap:
        # earliest-snapshot representative per key: min over a struct
        # ordered (snapshot, payload...) — an ordinary partial-aggregable
        # min, no single-partition window
        payload = [snap] + [c for c in others if c != snap]
        compacted = (
            df.groupBy(*keys)
            .agg(F.min(F.struct(*[F.col(c) for c in payload])).alias("_rep"))
            .select(*keys, *[F.col(f"_rep.{c}").alias(c) for c in payload])
            .select(*all_cols)
        )
    else:
        compacted = df.dropDuplicates(keys)

    tdir = (
        job.engine.bucketed_dir(dest)
        if n_bkts and not migrate_plain
        else job.engine.table_dir(dest)
    )
    n_files = sum(
        1
        for _root, _dirs, files in os.walk(tdir)
        for f in files
        if f.endswith(".parquet")
    )
    retired_note = ""
    if n_bkts:
        # bucketed rewrite: repartition BY the bucket keys first so each
        # task holds whole hash-families and the write lands ~1 file per
        # bucket instead of (tasks x buckets) shards
        rows = job.engine.save_table_bucketed(
            compacted.repartition(n_bkts, *[F.col(c) for c in bucket_keys]),
            dest,
            bucket_keys,
            n_bkts,
        )
        if migrate_plain:
            # the bucketed copy is swapped in — retire the plain layout
            # so the old files don't sit orphaned (and a later flip back
            # to buckets:0 hits the layout guard, not stale history).
            # Safe unconditionally here: the plain table WAS this run's
            # input, so every row it holds is in the bucketed copy
            # (minus any explicit keep-snapshots age-out).
            job.engine.drop_table(dest)
        elif job.engine.table_exists(dest):
            # a plain same-name twin on a NON-migration run is PRESUMED
            # a mid-migration crash leftover (bucketed write landed,
            # retire step didn't) — but presumption is not license to
            # rmtree: the twin could hold rows the bucketed copy does
            # not (appends that landed on the plain layout after a
            # partial migration, or an unrelated table reusing the
            # name). Verify it is a key-subset of the bucketed copy
            # (cheap anti-join existence probe on the key columns —
            # plus the snapshot column when the table carries one:
            # post-migration appends reuse existing keys with NEW
            # snapshot labels, and a keys-only probe would classify
            # those rows novel==0 and delete them); anything novel is
            # renamed aside loudly, never deleted.
            plain = job.engine.table(dest)
            probe_cols = list(bucket_keys)
            if snap and snap in plain.columns:
                probe_cols.append(snap)
            novel = -1
            if all(c in plain.columns for c in bucket_keys):
                # read the bucketed FILES directly: the probe must not
                # depend on catalog state (a same-name temp view of the
                # plain twin would shadow spark.table), and bucketing
                # metadata is irrelevant to a key-existence check
                bucketed_now = job.engine.spark.read.parquet(
                    job.engine.bucketed_dir(dest)
                )
                probe = [c for c in probe_cols if c in bucketed_now.columns]
                novel = (
                    plain.select(*probe)
                    .join(
                        bucketed_now.select(*probe).hint("merge"),
                        probe,
                        "left_anti",
                    )
                    .limit(1)
                    .count()
                )
            if novel == 0:
                # true crash leftover: every key already in the
                # bucketed registry — completing the retire step is
                # the idempotent migration finish
                job.engine.drop_table(dest)
            else:
                # unique suffix: a SECOND retirement must never rmtree
                # the first one's preserved rows (the whole point is
                # never-delete)
                pdir = job.engine.table_dir(dest)
                retired = f"{pdir}.__retired__{uuid.uuid4().hex[:8]}"
                job.engine.publish([("replace", pdir, retired)])
                job.engine.drop_view(dest)
                retired_note = (
                    f"; plain twin at {pdir} holds "
                    + (
                        "key/snapshot rows absent from the bucketed registry"
                        if novel > 0
                        else "an incompatible schema (no key columns)"
                    )
                    + f" — renamed to {retired}, NOT deleted; inspect and"
                    " re-append or remove it"
                )
        n = n_bkts
    else:
        n = int(job.param("target-partitions") or 0) or max(1, n_files // 4)
        rows = job.engine.save_table(
            compacted.repartition(n), dest, mode="overwrite"
        )
    return JobResult(
        message=(
            f"compacted {dest}: {rows} distinct keys, {n_files}->{n} "
            f"file target, {dropped_snapshots} snapshot(s) aged out"
            f"{retired_note}"
        ),
        rows=rows,
    )


@jobclass(
    "dsir-select",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            TableParam("target-table"),
            TableParam("ratio-table", optional=True),
            StringParam("id-column", optional=True),
            StringParam("text-column", optional=True),
            StringParam("min-weight", optional=True),
            StringParam("keep-fraction", optional=True),
            StringParam("reuse-ratio", optional=True),
        ]
    ),
)
def dsir_select(job: Job) -> JobResult:
    """Targeted data selection stage (q98, DSIR — Xie et al. 2023):
    keep the ``src-table`` docs that read like the ``target-table``
    exemplar corpus, by hashed-ngram target/raw log-likelihood ratio.

    The fit collapses ONE pass over target ∪ raw into a 1024-row ratio
    table; scoring is one raw pass (broadcast join + doc-keyed agg).
    With ``ratio-table`` set the fitted table is published there
    (stage-and-swap) for audit and reuse; ``reuse-ratio: true`` loads
    an existing ratio table instead of refitting — the staged-artifact
    path for a raw pool that re-scores against an unchanged target
    (refit only when the target corpus changes).

    Selection: ``keep-fraction`` F keeps the top F of the pool by
    weight (DSIR's importance-resampling shape with a selection
    budget — the head is taken distributed, TakeOrdered, ties to the
    smaller id, never a global sort); otherwise ``min-weight``
    (default 0.0) thresholds the per-doc summed log ratio — 0.0 keeps
    docs more target-like than raw-like (absolute weights sit well
    below 0 when the target sample is small relative to smoothing
    mass, so budgeted selection is the form a real pipeline runs).
    """
    from bricolage_spark.operators.textual import (
        dsir_importance,
        dsir_log_ratio_table,
    )

    dest = job.require("dest-table")
    src = job.require("src-table")
    target_t = job.require("target-table")
    ratio_t = job.param("ratio-table")
    id_col = str(job.param("id-column", "doc_id"))
    text_col = str(job.param("text-column", "text"))
    min_w = float(job.param("min-weight", 0.0))

    if job.bool_param("reuse-ratio") and ratio_t and job.engine.table_exists(
        ratio_t
    ):
        ratio = job.engine.table(ratio_t)
        fitted = "reused"
    else:
        fit = job.engine.table(target_t).select(
            F.col(text_col), F.lit(True).alias("_t")
        ).unionByName(
            job.engine.table(src).select(
                F.col(text_col), F.lit(False).alias("_t")
            )
        )
        ratio = dsir_log_ratio_table(fit, text_col, F.col("_t"))
        if ratio_t:
            # publish, then score from the WRITTEN table: the fit plan
            # is not recomputed for scoring, and what scored is exactly
            # what auditors read
            job.engine.save_table(ratio, ratio_t, mode="overwrite")
            ratio = job.engine.table(ratio_t)
        fitted = "fitted"

    scored = dsir_importance(
        job.engine.table(src).withColumn("_t", F.lit(False)),
        id_col,
        text_col,
        F.col("_t"),
        ratio_table=ratio,
    )
    frac = job.param("keep-fraction")
    if frac is not None:
        frac = float(frac)
        if not 0.0 < frac <= 1.0:
            raise ParameterError(
                f"dsir-select: keep-fraction must be in (0, 1]: {frac}"
            )
        pool = job.engine.table(src).count()
        k = max(1, int(pool * frac))
        keep_ids = (
            scored.orderBy(F.desc("dsir_logweight"), F.col(id_col))
            .limit(k)
            .select(id_col)
        )
        rule = f"top {frac:g} of {pool} = {k}"
    else:
        keep_ids = scored.where(
            F.col("dsir_logweight") >= F.lit(min_w)
        ).select(id_col)
        rule = f"min-weight {min_w}"
    kept = job.engine.table(src).join(keep_ids, id_col, "left_semi")
    n = job.engine.save_table(kept, dest, mode="overwrite")
    return JobResult(
        message=(
            f"DSIR kept {n} docs from {src} into {dest} "
            f"(ratio {fitted}, {rule})"
        ),
        rows=n,
    )


@jobclass(
    "semantic-neardup-history",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            TableParam("embeddings-table"),
            TableParam("registry-table"),
            StringParam("id-column", optional=True),
            StringParam("vec-id-column", optional=True),
            StringParam("vec-column", optional=True),
            StringParam("snapshot", optional=True),
            StringParam("n-planes", optional=True),
            StringParam("bands", optional=True),
        ]
    ),
)
def semantic_neardup_history(job: Job) -> JobResult:
    """Cross-snapshot SEMANTIC near-dedup stage (q101): drop batch docs
    whose EMBEDDING near-duplicates any previously ingested snapshot,
    via the SRP band-signature registry — the paraphrase-level
    complement of ``neardup-history`` (rewrites evade MinHash shingles
    but not their embeddings; q96's decon catches the FIXED benchmark,
    this catches the growing history).

    The probe touches only ~20-byte (band_id, band_hash) registry rows
    — history vectors are never rescanned, O(batch) per snapshot — and
    the registry write carries the same snapshot discipline as the
    lexical stage (insert-delta labeled rewrites, NULL-label history
    preserved; shared ``probe_and_update_registry``). Docs with no
    embedding row pass through untouched, same contract as
    ``semantic-decon``.
    """
    from bricolage_spark.operators.similarity import srp_band_buckets
    from bricolage_spark.streaming.curation import probe_and_update_registry

    dest = job.require("dest-table")
    src = job.require("src-table")
    emb_t = job.require("embeddings-table")
    reg_t = job.require("registry-table")
    id_col = str(job.param("id-column", "doc_id"))
    vid = str(job.param("vec-id-column", "vec_id"))
    vec = str(job.param("vec-column", "embedding"))
    n_planes = int(job.param("n-planes", 15))
    n_bands = int(job.param("bands", 3))

    bands = srp_band_buckets(
        job.engine.table(emb_t).withColumnRenamed(vid, id_col),
        id_col,
        vec,
        n_planes=n_planes,
        bands=n_bands,
    )
    keep_ids = probe_and_update_registry(
        bands, job.engine, reg_t, id_col, snapshot=job.param("snapshot")
    )
    # embedded ids NOT kept are the semantic dups; unembedded docs pass
    dup_ids = (
        bands.select(id_col).distinct().join(keep_ids, id_col, "left_anti")
    )
    kept = job.engine.table(src).join(dup_ids, id_col, "left_anti")
    n = job.engine.save_table(kept, dest, mode="overwrite")
    return JobResult(
        message=(
            f"{n} docs survive semantic history near-dedup into {dest}; "
            f"SRP bands appended to {reg_t}"
        ),
        rows=n,
    )


@jobclass(
    "pagerank",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("edges-table"),
            StringParam("src-column", optional=True),
            StringParam("dst-column", optional=True),
            StringParam("iterations", optional=True),
            StringParam("damping", optional=True),
        ]
    ),
)
def pagerank_job(job: Job) -> JobResult:
    """Rank a link graph (q97's operator as a jobnet stage): damped
    PageRank with dangling-mass redistribution over ``edges-table``,
    published to ``dest-table`` as (id, rank).

    The crawl pipeline shape: an extractor stage builds the host/domain
    edge table from fetched pages, this stage ranks it, and a
    downstream source-weighting stage (q62-style caps, q84-style
    mixture rates) joins the ranks in. Fixed iteration count — the
    rank table is a reproducible artifact, not a convergence outcome.
    """
    from bricolage_spark.operators.graph import pagerank

    dest = job.require("dest-table")
    edges_t = job.require("edges-table")
    src_c = str(job.param("src-column", "src"))
    dst_c = str(job.param("dst-column", "dst"))
    iters = int(job.param("iterations", 5))
    damping = float(job.param("damping", 0.85))
    if not 0.0 < damping < 1.0:
        raise ParameterError(f"pagerank: damping must be in (0, 1): {damping}")
    if iters < 1:
        raise ParameterError(f"pagerank: iterations must be >= 1: {iters}")
    edges = job.engine.table(edges_t)
    for c in (src_c, dst_c):
        if c not in edges.columns:
            raise ParameterError(f"pagerank: no such column: {c}")
    ranks = pagerank(edges, src_c, dst_c, iterations=iters, damping=damping)
    n = job.engine.save_table(ranks, dest, mode="overwrite")
    return JobResult(
        message=(
            f"ranked {n} nodes from {edges_t} into {dest} "
            f"({iters} iterations, d={damping})"
        ),
        rows=n,
    )


@jobclass(
    "drift-report",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            StringParam("current-snapshot"),
            StringParam("snapshot-column", optional=True),
            StringParam("group-column", optional=True),
            StringParam("text-column", optional=True),
        ]
    ),
)
def drift_report(job: Job) -> JobResult:
    """Per-group language-drift report for one crawl snapshot (q99):
    JS divergence between the CURRENT snapshot's unigram distributions
    and everything previously published, per ``group-column``.

    The observability stage a recurring crawl runs right after publish:
    q72-style membership diffs say WHICH documents changed; a JS jump
    says the feed's LANGUAGE changed (template flip, spam burst, topic
    shift) and its sampling weight needs review before the next
    training run. On the FIRST snapshot there is no history — drift is
    then measured against the smoothed-uniform floor (every word count
    0 on the B side), a well-defined but semantically empty number; read
    the report from snapshot two onward. The write is idempotent per
    snapshot (current rows replaced, prior snapshots' rows kept —
    null-safe, insert-delta style), so a resumed jobnet never
    double-appends.
    """
    from bricolage_spark.operators.textual import unigram_js_drift

    dest = job.require("dest-table")
    src = job.require("src-table")
    cur = str(job.require("current-snapshot"))
    snap_col = str(job.param("snapshot-column", "snapshot"))
    group_col = str(job.param("group-column", "source"))
    text_col = str(job.param("text-column", "text"))

    corpus = job.engine.table(src)
    for c in (snap_col, group_col, text_col):
        if c not in corpus.columns:
            raise ParameterError(f"drift-report: no such column: {c}")
    report = unigram_js_drift(
        corpus, group_col, text_col, F.col(snap_col).eqNullSafe(F.lit(cur))
    ).withColumn(snap_col, F.lit(cur))
    if job.engine.table_exists(dest):
        prior = job.engine.table(dest).where(
            ~F.col(snap_col).eqNullSafe(F.lit(cur))
        )
        report = prior.unionByName(report)
    n = job.engine.save_table(report, dest, mode="overwrite")
    return JobResult(
        message=f"drift report for snapshot {cur}: {n} rows in {dest}",
        rows=n,
    )


@jobclass(
    "semantic-decon",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            TableParam("embeddings-table"),
            TableParam("bench-table"),
            StringParam("id-column", optional=True),
            StringParam("vec-id-column", optional=True),
            StringParam("vec-column", optional=True),
            StringParam("threshold", optional=True),
        ]
    ),
)
def semantic_decon(job: Job) -> JobResult:
    """Embedding-space decontamination stage (q96): drop docs whose
    embedding is too close to any benchmark vector.

    ``max_sim_to_reference`` scores every row of ``embeddings-table``
    against the (fixed, broadcast-sized) ``bench-table``; ids whose max
    cosine similarity reaches ``threshold`` are anti-joined out of
    ``src-table``. Two properties fall out of scoring the FULL
    embedding table rather than a pre-split train side:

    - benchmark members themselves score 1.0 against their own vector,
      so eval docs that leaked into the ingest feed are always dropped;
    - docs with no embedding row are passed through untouched — the
      stage only judges what is embedded (run it after the hygiene gate
      that guarantees coverage, or treat missing vectors upstream).
    """
    from bricolage_spark.operators.similarity import max_sim_to_reference

    dest = job.require("dest-table")
    src = job.require("src-table")
    emb_t = job.require("embeddings-table")
    bench_t = job.require("bench-table")
    id_col = str(job.param("id-column", "doc_id"))
    vid = str(job.param("vec-id-column", "vec_id"))
    vec = str(job.param("vec-column", "embedding"))
    tau = float(job.param("threshold", 0.4))
    flags = max_sim_to_reference(
        job.engine.table(emb_t), job.engine.table(bench_t), vid, vec, threshold=tau
    )
    contaminated = flags.filter(~F.col("keep")).select(
        F.col("vec_id").alias(id_col)
    )
    kept = job.engine.table(src).join(contaminated, id_col, "left_anti")
    n = job.engine.save_table(kept, dest, mode="overwrite")
    return JobResult(
        message=(
            f"{n} docs survive semantic decon into {dest} "
            f"(threshold {tau} vs {bench_t})"
        ),
        rows=n,
    )


@jobclass(
    "span-scrub",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            StringParam("id-column", optional=True),
            StringParam("text-column", optional=True),
            StringParam("anchor-len", optional=True),
            StringParam("min-span", optional=True),
            StringParam("max-postings", optional=True),
        ]
    ),
)
def span_scrub(job: Job) -> JobResult:
    """Substring-dedup APPLY as a pipeline stage (q74 -> q103): detect
    cross-document duplicated word spans in ``src-table`` and rewrite it
    with the NON-keeper occurrences stripped — keep-first, so exactly
    one copy of every duplicated span survives (Lee et al. 2022's
    removal step; the sentence analog is q92).

    Only docs that actually LOST a span take the rewritten text (the
    rebuild is normalized — lowercased, whitespace-collapsed — because
    span positions are word offsets in normalized space); untouched
    docs (n_removed == 0) keep their ORIGINAL casing and spacing, and
    NULL-text rows pass through unmodified with n_removed 0 (round-8
    advice: the old inner join normalized the whole corpus and silently
    dropped NULL-text docs). An ``n_chars`` column, when present, is
    refreshed so downstream length reports see the corpus that was
    actually published. Scrub totals come from ``df.observe`` during
    the write — no extra corpus pass.
    """
    from bricolage_spark.operators.dedup import duplicate_spans

    dest = job.require("dest-table")
    src = job.require("src-table")
    id_col = str(job.param("id-column", "doc_id"))
    text_col = str(job.param("text-column", "text"))
    df = job.engine.table(src)
    spans = duplicate_spans(
        df,
        id_col,
        text_col,
        anchor_len=int(job.param("anchor-len", 8)),
        min_span=int(job.param("min-span", 12)),
        max_postings=int(job.param("max-postings", 8)),
    )
    n, got = _publish_span_scrubbed(job.engine, df, spans, id_col, text_col, dest)
    return JobResult(
        message=(
            f"span-scrub {src} -> {dest}: {n} docs, "
            f"{got.get('docs_touched') or 0} touched, "
            f"{got.get('words_removed') or 0} duplicated words removed"
        ),
        rows=n,
    )


def _publish_span_scrubbed(
    engine, df, spans, id_col: str, text_col: str, dest
) -> tuple[int, dict]:
    """Shared apply/publish tail of ``span-scrub`` and ``span-registry``:
    rewrite ``df`` with the NON-keeper span occurrences stripped and
    publish to ``dest``.

    The rewrite semantics (keep-original for untouched docs, NULL-text
    passthrough, n_chars refresh) live in ``operators.dedup.
    apply_span_scrub`` — shared with the streaming foreachBatch path.
    Scrub totals come from ``df.observe`` during the write — no extra
    corpus pass. Returns (rows_written, observed metrics).
    """
    from pyspark.sql import Observation

    from bricolage_spark.operators.dedup import apply_span_scrub

    joined = apply_span_scrub(df, spans, id_col, text_col)
    obs = Observation()
    joined = joined.observe(
        obs,
        F.sum("n_removed").alias("words_removed"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("docs_touched"),
    )
    out = joined.select(*df.columns)
    n = engine.save_table(out, dest, mode="overwrite")
    return n, obs.get


@jobclass(
    "span-registry",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            TableParam("registry-table"),
            StringParam("id-column", optional=True),
            StringParam("text-column", optional=True),
            StringParam("snapshot", optional=True),
            StringParam("anchor-len", optional=True),
            StringParam("min-span", optional=True),
            StringParam("registry-buckets", optional=True),
        ]
    ),
)
def span_registry(job: Job) -> JobResult:
    """Cross-snapshot SPAN dedup stage (q110's probe as a pipeline
    stage, completing the q67/q82/q101 registry family at substring
    granularity): scrub from the batch every >= ``min-span``-token word
    span that verbatim-duplicates ANY previously ingested history, then
    append the PUBLISHED batch's anchor digests to the registry.
    ``span-scrub`` catches duplicated spans WITHIN the batch; this
    stage catches them AGAINST everything published before, without
    ever rescanning history text.

    Registry contract — this table is NOT like its siblings' (sizing
    math in SCALE.md "span-anchor registry"):

    - schema ``(ahash bigint[, snapshot string])`` — one xxhash64 key
      per distinct published word ``anchor-len``-gram (8-byte keys;
      the measured md5-vs-xxhash64 adjudication and the collision-bias
      note live on ``positional_anchor_keys``; an md5-era string
      registry fails loudly at probe time with a re-key hint). The key
      count is O(history tokens), so the registry is CORPUS-scale (a
      25T-token history is a multi-TB key table), unlike the O(docs)
      digest and O(docs x bands) band registries.
    - maintenance is therefore APPEND-ONLY, never the insert-delta
      rewrite the band registries use: each snapshot appends O(batch)
      rows; a labeled replay double-appends harmlessly (the probe
      excludes the current snapshot's rows null-safely, so verdicts
      are replay-stable, and probes test key EXISTENCE) and
      ``registry-compact`` (key-columns: ahash) collapses the
      duplicates on its own cadence. The one exception is the
      one-time schema alignment when a first labeled run meets an
      unlabeled registry.
    - with ``registry-buckets: N`` the registry lives as a bucketed
      catalog table CLUSTERED BY (ahash): the probe semi-join then
      reads co-located buckets directly — ``Bucketed: true`` scan,
      the ONLY Exchange in the probe is the O(batch) anchor side, and
      the corpus-scale registry never shuffles (engine.bucketed_table
      re-registers the session-scoped catalog entry over the durable
      bucket files). Without it the registry is a plain parquet table
      and the probe shuffles both sides — fine for modest histories.
    - Spark's runtime Bloom filter (on by default,
      ``spark.sql.optimizer.runtime.bloomFilter.enabled``) builds a
      ~10-bit/key filter from the SMALL batch side and pushes it into
      the registry scan, so registry rows that cannot match any batch
      anchor are dropped at the scan — the Bloom tier is the serve
      index, the exact digest table stays ground truth.

    The apply/publish tail (normalized rewrite only for touched docs,
    NULL-text passthrough, n_chars refresh) is shared with
    ``span-scrub``. Registry rows are the anchors of the PUBLISHED
    (post-scrub) text, so the registry reflects exactly what shipped.
    """
    from bricolage_spark.operators.dedup import (
        positional_anchor_keys,
        span_registry_probe,
    )
    from bricolage_spark.streaming.curation import (
        span_registry_prior,
        update_span_registry,
    )

    dest = job.require("dest-table")
    src = job.require("src-table")
    reg_t = job.require("registry-table")
    id_col = str(job.param("id-column", "doc_id"))
    text_col = str(job.param("text-column", "text"))
    k = int(job.param("anchor-len", 8))
    min_span = int(job.param("min-span", 12))
    snap = job.param("snapshot")
    n_buckets = int(job.param("registry-buckets", 0) or 0)
    df = job.engine.table(src)
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ParameterError(f"span-registry: no such column: {c}")

    prior = span_registry_prior(job.engine, reg_t, n_buckets)
    probe_rows = prior
    if prior is not None and snap is not None and "snapshot" in prior.columns:
        # replay safety: a re-run must not see its own anchors as
        # "history" and scrub the whole batch; NULL-labeled history
        # stays probe-visible (null-safe, the insert_delta rule)
        probe_rows = prior.where(
            ~F.col("snapshot").eqNullSafe(F.lit(str(snap)))
        )

    if probe_rows is not None:
        anchors = positional_anchor_keys(df, id_col, text_col, k=k)
        spans = span_registry_probe(
            anchors,
            probe_rows.select("ahash"),
            id_col,
            anchor_len=k,
            min_span=min_span,
        ).select(
            F.col(id_col).alias("doc_b"),
            F.col("span_start").alias("b_start"),
            "span_len",
        )
        n, got = _publish_span_scrubbed(
            job.engine, df, spans, id_col, text_col, dest
        )
    else:
        # first snapshot: nothing to probe — publish unchanged, seed below
        n = job.engine.save_table(df, dest, mode="overwrite")
        got = {"docs_touched": 0, "words_removed": 0}

    # append the PUBLISHED text's distinct anchor digests — O(batch)
    # rows, append-only policy shared with the foreachBatch path
    # (``update_span_registry``: labeled-replay-stable, one-time label
    # migration, bucketed layout preserved)
    new_rows = (
        positional_anchor_keys(job.engine.table(dest), id_col, text_col, k=k)
        .select("ahash")
        .distinct()
    )
    update_span_registry(
        job.engine,
        reg_t,
        new_rows,
        snapshot=snap,
        n_buckets=n_buckets,
        prior=prior,
    )
    return JobResult(
        message=(
            f"span-registry {src} -> {dest}: {n} docs, "
            f"{got.get('docs_touched') or 0} touched, "
            f"{got.get('words_removed') or 0} history-duplicated words "
            f"removed; anchors appended to {reg_t}"
            + (f" ({n_buckets} buckets)" if n_buckets else "")
        ),
        rows=n,
    )


@jobclass(
    "eval-split",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            StringParam("text-column", optional=True),
            StringParam("seed", optional=True),
            StringParam("val-pct", optional=True),
            StringParam("test-pct", optional=True),
        ]
    ),
)
def eval_split(job: Job) -> JobResult:
    """Assign deterministic train/val/test splits to a curated corpus
    (q106): the stage a training pipeline runs LAST, after dedup, so
    the published shards carry their split. Keyed by the CONTENT digest
    — byte-identical docs can never straddle splits — via row-local
    hash arithmetic (zero shuffle, stable across re-runs and re-crawls
    of the same text).

    NULL-``text-column`` rows are KEPT with a NULL split (they have no
    content identity to key on; bucketing them into train would
    co-train unidentifiable bytes) and their count is reported — a
    non-zero count this late in the pipeline means an upstream filter
    leaked. Pair with ``leakage-audit`` as the publish gate for the
    residual NEAR-dup leakage content keying cannot see.
    """
    from pyspark.sql import Observation

    from bricolage_spark.operators.curation import assign_eval_split

    dest = job.require("dest-table")
    src = job.require("src-table")
    text_col = str(job.param("text-column", "text"))
    val_pct = int(job.param("val-pct", 5))
    test_pct = int(job.param("test-pct", 5))
    if val_pct < 0 or test_pct < 0 or val_pct + test_pct >= 100:
        raise ParameterError(
            f"eval-split: percentages out of range: val {val_pct}, test {test_pct}"
        )
    df = job.engine.table(src)
    if text_col not in df.columns:
        raise ParameterError(f"eval-split: no such column: {text_col}")
    out = assign_eval_split(
        df,
        text_col,
        seed=int(job.param("seed", 424242)),
        val_pct=val_pct,
        test_pct=test_pct,
    )
    obs = Observation()
    out = out.observe(
        obs,
        *[
            F.sum((F.col("split") == s).cast("long")).alias(f"n_{s}")
            for s in ("train", "val", "test")
        ],
        F.sum(F.col("split").isNull().cast("long")).alias("n_null"),
    )
    n = job.engine.save_table(out, dest, mode="overwrite")
    got = obs.get
    return JobResult(
        message=(
            f"eval-split {src} -> {dest}: {n} docs "
            f"(train {got.get('n_train') or 0} / val {got.get('n_val') or 0} "
            f"/ test {got.get('n_test') or 0}; "
            f"{got.get('n_null') or 0} NULL-text rows carry split NULL)"
        ),
        rows=n,
    )


@jobclass(
    "leakage-audit",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            TableParam("pairs-table", optional=True),
            StringParam("id-column", optional=True),
            StringParam("text-column", optional=True),
            StringParam("split-column", optional=True),
            StringParam("jaccard-threshold", optional=True),
            StringParam("max-leaking", optional=True),
        ]
    ),
)
def leakage_audit(job: Job) -> JobResult:
    """Audit a split-assigned corpus for near-dup pairs straddling the
    eval split (q107) and publish the per-(split, split) report — the
    sheet an eval owner signs off on before shards ship. With
    ``max-leaking`` set the job is a PUBLISH GATE: more cross-split
    verified pairs than allowed raises JobFailure, stopping the net
    resumable at the audit, exactly like a failed ``assert`` stage.

    Pairs come from ``pairs-table`` when the pipeline already staged a
    verified pair artifact (columns id_a, id_b, jaccard — the q33
    shape); otherwise they are computed here from ``src-table``'s text:
    MinHash-LSH banding proposes candidates, exact shingle Jaccard
    verifies (never all-pairs), keeping rows at or above
    ``jaccard-threshold`` (default 0.2). Either way the audit itself is
    pair-table-scale: two id-keyed joins and a <=9-cell aggregate.
    """
    from bricolage_spark.operators.curation import split_leakage_report
    from bricolage_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        word_shingles,
    )

    dest = job.require("dest-table")
    src = job.require("src-table")
    id_col = str(job.param("id-column", "doc_id"))
    split_col = str(job.param("split-column", "split"))
    df = job.engine.table(src)
    for c in (id_col, split_col):
        if c not in df.columns:
            raise ParameterError(f"leakage-audit: no such column: {c}")

    pairs_t = job.param("pairs-table")
    if pairs_t:
        pairs = job.engine.table(pairs_t)
        origin = f"staged pairs {pairs_t}"
    else:
        text_col = str(job.param("text-column", "text"))
        if text_col not in df.columns:
            raise ParameterError(f"leakage-audit: no such column: {text_col}")
        tau = float(job.param("jaccard-threshold", 0.2))
        # explicit projection, not withColumnRenamed: a source table
        # carrying an unrelated 'id' column alongside id_col would
        # otherwise end up with two 'id' columns and an ambiguous
        # reference inside word_shingles
        sh = word_shingles(
            df.select(F.col(id_col).alias("id"), F.col(text_col)),
            "id",
            text_col,
        )
        cand = lsh_candidate_pairs(minhash_signatures(sh, "id"), "id")
        pairs = ngram_jaccard_pairs(sh, cand, id_col="id").filter(
            F.col("jaccard") >= tau
        )
        origin = f"computed (jaccard >= {tau})"

    report = split_leakage_report(
        pairs, df.select(id_col, split_col), id_col=id_col, split_col=split_col
    )
    n = job.engine.save_table(report, dest, mode="overwrite")
    # the published report is <=9 rows — reading it back for the gate is
    # metadata-scale and gates on exactly what auditors will see
    cells = job.engine.table(dest).collect()
    # n_leaking already covers cross-split cells AND any cell touching
    # unsplit docs (operator contract) — the gate sums it directly
    leaking = sum(r.n_leaking for r in cells)
    max_leak = job.param("max-leaking")
    if max_leak is not None and leaking > int(max_leak):
        worst = sorted(
            (r for r in cells if r.n_leaking > 0),
            key=lambda r: -r.n_pairs,
        )[:3]
        shown = "; ".join(
            f"{r.split_a}/{r.split_b}: {r.n_leaking} pairs" for r in worst
        )
        raise JobFailure(
            f"leakage-audit: {leaking} leaking near-dup pair(s) "
            f"(cross-split or unsplit) exceed max-leaking {max_leak} "
            f"({origin}): {shown}"
        )
    return JobResult(
        message=(
            f"leakage audit {src} -> {dest}: {n} cells, {leaking} "
            f"leaking pair(s) ({origin})"
        ),
        rows=n,
    )


@jobclass(
    "epoch-plan",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            StringParam("budget-tokens"),
            StringParam("group-column", optional=True),
            StringParam("chars-column", optional=True),
            StringParam("token-column", optional=True),
            StringParam("alpha", optional=True),
            StringParam("max-epochs", optional=True),
            StringParam("fail-on-oversampled", optional=True),
            StringParam("mode", optional=True),
        ]
    ),
)
def epoch_plan_job(job: Job) -> JobResult:
    """Publish the token-budget epoch plan for a curated corpus (q108):
    per source, available tokens, temperature weight, the budget's token
    target, implied epochs, and the over-repetition flag — the data-card
    table a pretraining run fixes before launch.

    Tokens come from ``token-column`` when the pipeline staged real
    counts (a bpe-encoded table's n_tokens), else the ceil(chars/4)
    estimator over ``chars-column`` (default n_chars). With
    ``fail-on-oversampled: true`` the job is a LAUNCH GATE: any source
    whose plan repeats it past ``max-epochs`` raises JobFailure with the
    offending rows quoted — the signal to get more data or shrink the
    share, not to silently over-epoch. One corpus aggregation; the plan
    is |sources| rows.

    ``mode: unimax`` (q111) publishes the UniMax water-filling plan
    instead (Chung et al. 2023): uniform-up-to-cap allocation in which
    no source can exceed ``max-epochs`` BY CONSTRUCTION — the
    oversampled gate is then vacuous (and ``alpha`` unused). The
    default, ``mode: temperature``, is q108's alpha-weighted plan.
    """
    from bricolage_spark.operators.curation import epoch_plan, unimax_plan

    dest = job.require("dest-table")
    src = job.require("src-table")
    budget = int(job.param("budget-tokens"))
    group_col = str(job.param("group-column", "source"))
    alpha = float(job.param("alpha", 0.5))
    max_epochs = float(job.param("max-epochs", 4.0))
    mode = str(job.param("mode", "temperature"))
    if mode not in ("temperature", "unimax"):
        raise ParameterError(f"epoch-plan: unknown mode: {mode}")
    if budget <= 0:
        raise ParameterError(f"epoch-plan: budget-tokens must be > 0: {budget}")
    if not 0.0 < alpha <= 1.0:
        raise ParameterError(f"epoch-plan: alpha must be in (0, 1]: {alpha}")
    df = job.engine.table(src)
    tok_c = job.param("token-column")
    if tok_c:
        if str(tok_c) not in df.columns:
            raise ParameterError(f"epoch-plan: no such column: {tok_c}")
        token_col = F.col(str(tok_c)).cast("bigint")
    else:
        chars_c = str(job.param("chars-column", "n_chars"))
        if chars_c not in df.columns:
            raise ParameterError(f"epoch-plan: no such column: {chars_c}")
        token_col = F.ceil(F.col(chars_c) / 4.0).cast("bigint")
    if group_col not in df.columns:
        raise ParameterError(f"epoch-plan: no such column: {group_col}")
    if mode == "unimax":
        plan = unimax_plan(
            df, group_col, token_col,
            budget_tokens=budget, max_epochs=max_epochs,
        )
    else:
        plan = epoch_plan(
            df, group_col, token_col,
            budget_tokens=budget, alpha=alpha, max_epochs=max_epochs,
        )
    n = job.engine.save_table(plan, dest, mode="overwrite")
    rows = job.engine.table(dest).collect()  # |sources| rows of metadata
    over = [r for r in rows if getattr(r, "oversampled", False)]
    if over and job.bool_param("fail-on-oversampled"):
        worst = sorted(over, key=lambda r: -r.epochs)[:3]
        shown = "; ".join(
            f"{getattr(r, group_col)}: {r.epochs} epochs of "
            f"{r.n_tokens} tokens" for r in worst
        )
        raise JobFailure(
            f"epoch-plan: {len(over)} source(s) over {max_epochs} "
            f"epochs at budget {budget}: {shown}"
        )
    return JobResult(
        message=(
            f"epoch plan ({mode}) {src} -> {dest}: {n} sources, budget "
            f"{budget} tokens, {len(over)} oversampled"
        ),
        rows=n,
    )


@jobclass(
    "calibration-report",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            TableParam("src-table"),
            StringParam("id-column", optional=True),
            StringParam("text-column", optional=True),
            StringParam("buckets", optional=True),
        ]
    ),
)
def calibration_report(job: Job) -> JobResult:
    """Publish the quality-classifier calibration sheet (q109): the
    corpus bucketed by the hashed-ngram classifier score, with
    per-bucket means of the INDEPENDENT Gopher repetition signals and
    the rule-based keep rate. Run it on the PRE-filter corpus so both
    sides of the classifier's verdict appear — a flat or inverted
    column means the filter is keying on something other than quality.
    Two row-local metric projections, one doc-keyed join, a
    |buckets|-row publish.
    """
    from bricolage_spark.operators.textual import calibration_table

    dest = job.require("dest-table")
    src = job.require("src-table")
    id_col = str(job.param("id-column", "doc_id"))
    text_col = str(job.param("text-column", "text"))
    n_buckets = int(job.param("buckets", 10))
    if n_buckets < 2:
        raise ParameterError(f"calibration-report: buckets must be >= 2: {n_buckets}")
    df = job.engine.table(src)
    for c in (id_col, text_col):
        if c not in df.columns:
            raise ParameterError(f"calibration-report: no such column: {c}")
    report = calibration_table(df, id_col, text_col, n_buckets=n_buckets)
    rows = job.engine.save_table(report, dest, mode="overwrite")
    return JobResult(
        message=f"calibration report {src} -> {dest}: {rows} score buckets",
        rows=rows,
    )
