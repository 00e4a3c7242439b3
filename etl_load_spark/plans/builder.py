"""Spec → DataFrame plan builder.

Compiles a ``JobSpec`` into a single declarative DataFrame expression — the
Spark replacement for the reference's row-at-a-time mapping processor
(ETLCoreMappingProcessor.java:56-107). Order of column-level stages mirrors
the reference's per-row pipeline:

    project (P1/P2) → filter (P3) → fixed-width extract (P8) →
    rule (U2/F1-F2) → default (P7) → cast (P5) → rename (P4)

Everything stays inside Catalyst (whole-stage codegen); projection and the
filter push down into the source scan automatically.
"""

from __future__ import annotations

import importlib.util
import inspect
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_load_spark.functions.casts import cast_column
from etl_load_spark.functions.rules import apply_rule
from etl_load_spark.spec import JobSpec, Mapping


def _positions(spec_str: str) -> tuple[int, int]:
    """Parse a fixed-width ``"start-end"`` 1-based inclusive position spec
    (etlModel.java:96-97)."""
    start, end = spec_str.split("-")
    return int(start), int(end)


def mapping_column(m: Mapping, source_is_line: bool = False) -> F.Column:
    """One destination column expression from one mapping entry."""
    if source_is_line and m.file_column_position:
        start, end = _positions(m.file_column_position)
        col = F.trim(F.substring(F.col("value"), start, end - start + 1))
    else:
        col = F.col(m.source)
    col = apply_rule(col, m.transformation_rule)
    if m.default_value is not None:
        # null/empty → default (etlModel.java:98-99)
        col = F.when(col.isNull() | (col.cast("string") == ""),
                     F.lit(m.default_value)).otherwise(col)
    col = cast_column(col, m.dest_type, m.format_pattern)
    return col.alias(m.dest)


def build_mapping_plan(df: DataFrame, spec: JobSpec,
                       source_is_line: bool = False) -> DataFrame:
    """Apply filter + mapping list to a source DataFrame."""
    if spec.filter:
        # predicate passthrough (P3): opaque SQL handed to Catalyst — parsed,
        # optimized, and pushed down to the scan where possible
        df = df.filter(F.expr(spec.filter))
    if spec.mappings:
        df = df.select(*[mapping_column(m, source_is_line) for m in spec.mappings])
    if spec.order_by:
        df = df.orderBy(*spec.order_by)
    return df


def build_plan(spark: SparkSession, spec: JobSpec,
               source_df: DataFrame | None = None) -> DataFrame:
    """Full plan: read source(s), register views, apply query or mappings.

    When ``spec.query`` is set, the source is registered as view ``src``
    (plus ``extra_sources`` under their keys) and the query is executed by
    Spark SQL — this is where joins/aggs/windows/set-ops live (§2.9 items
    3-8). Otherwise the mapping pipeline applies. ``source_df`` overrides
    the source read (the runner passes the HWM-filtered source for
    incremental jobs).
    """
    from etl_load_spark.sources.registry import read_source

    df = source_df if source_df is not None else read_source(spark, spec.source)
    source_is_line = spec.source.type.upper() in ("FILE_FIXED", "TEXT")
    if spec.query:
        df.createOrReplaceTempView("src")
        for name, ep in spec.extra_sources.items():
            read_source(spark, ep).createOrReplaceTempView(name)
        df = spark.sql(spec.query)
        df = build_mapping_plan(df, spec, False) if spec.mappings else df
    else:
        df = build_mapping_plan(df, spec, source_is_line)
    return apply_transformation(df, spark, spec)


def apply_transformation(df: DataFrame, spark: SparkSession,
                         spec: JobSpec) -> DataFrame:
    """U1 pluggable transform stage (spec.Transformation): NONE passes
    through; PYTHON_SCRIPT loads the user script and applies its
    ``transform`` (DataFrame-level) or ``transform_pandas`` (Arrow-batched
    mapInPandas) hook; every other type is one STAGES entry — its batch
    function, or on a stream its watermark twin or batch-only refusal."""
    tr = spec.transformation
    if tr is None or tr.type.upper() == "NONE":
        return df
    t = tr.type.upper()
    if t == "PYTHON_SCRIPT":
        if not tr.script_path:
            raise ValueError(
                "transformation.type=PYTHON_SCRIPT requires scriptPath")
        mod_spec = importlib.util.spec_from_file_location(
            "etl_user_transform", tr.script_path)
        mod = importlib.util.module_from_spec(mod_spec)
        mod_spec.loader.exec_module(mod)
        if hasattr(mod, "transform"):
            return mod.transform(df, spark, tr.parameters)
        if hasattr(mod, "transform_pandas"):
            fn, params = mod.transform_pandas, tr.parameters
            return df.mapInPandas(lambda it: (fn(pdf, params) for pdf in it),
                                  schema=df.schema)
        raise ValueError(
            f"{tr.script_path} defines neither transform(df, spark, params) "
            f"nor transform_pandas(pdf, params)")
    stage = STAGES.get(t)
    if stage is None:
        raise ValueError(f"unknown transformation.type: {tr.type!r} "
                         f"(known: {', '.join(KNOWN_TYPES)})")
    p = tr.parameters or {}
    build = stage.batch
    if df.isStreaming and stage.stream is not None:
        if isinstance(stage.stream, str):
            raise ValueError(
                f"transformation.type={t} is batch-only{stage.stream}")
        _refuse_stream_carry(t, stage.batch.kwargs(p))
        build = stage.stream

    def source(name: str) -> DataFrame | None:
        from etl_load_spark.sources.registry import read_source
        ep = spec.extra_sources.get(name)
        return None if ep is None else read_source(spark, ep)

    return build(df, p, source)


def _refuse_stream_carry(t: str, batch_kwargs: dict) -> None:
    """The carry form of a rollup (carryIn, and the hotSplit knob that
    rides it) has no streaming twin: refuse it instead of dropping it."""
    if batch_kwargs.get("carry_in"):
        raise ValueError(
            f"{t} carryIn=true is batch-only on a stream: the carried "
            "sample is the previous bucket's last row, which the "
            "watermark has already evicted when the next bucket opens — "
            "land the self-contained rollup incrementally, then "
            "interpolate carries downstream (the batch operator's "
            "carry_in=True over the landed table)")
    if batch_kwargs.get("hot_split"):
        raise ValueError(
            f"{t} hotSplit only applies to the batch carry form (there is "
            "no per-key window to split on a stream — the streaming twin "
            "is already per-bucket-parallel)")


def _scd2_transform(df: DataFrame, p: dict, source) -> DataFrame:
    """Declarative SCD Type-2 merge stage (operators/scd.py wired into the
    job spec): the mapped source rows are the UPDATE batch; the existing
    dimension comes from ``extra_sources["dim"]`` — usually the same table
    the destination points at — or, if absent, the incoming batch is
    bootstrapped into SCD2 shape (initial load). Parameters:

      keyColumns:   list[str]  (required)
      attrColumns:  list[str]  (required)
      effectiveDate: 'YYYY-MM-DD' (required)

    Write the result with mode=overwrite: the merge re-emits the full
    dimension (history + current). At lake scale, partition the stored
    dimension by is_current so history files rewrite-free (SCALE.md).
    """
    from etl_load_spark.operators.scd import as_scd2, scd2_merge

    missing = [k for k in ("keyColumns", "attrColumns", "effectiveDate")
               if not p.get(k)]
    if missing:
        raise ValueError(f"SCD2_MERGE parameters missing: {missing}")
    dim = source("dim")
    if dim is None:
        return as_scd2(df, p["effectiveDate"])
    return scd2_merge(dim, df, list(p["keyColumns"]), list(p["attrColumns"]),
                      p["effectiveDate"])


def _cdc_scd2_transform(df: DataFrame, p: dict, source) -> DataFrame:
    """Declarative CDC→SCD2 stage (operators/scd.cdc_scd2_apply wired
    into the job spec): the mapped source rows are the CHANGE FEED
    (op column with I/U/D + a monotone seq column); the existing
    dimension comes from ``extraSources.dim``. Parameters: keyColumns,
    attrColumns, seqColumn (all required), opColumn ('op'). Write the
    result with mode=overwrite (the fold re-emits the full dimension)."""
    from etl_load_spark.operators.scd import cdc_scd2_apply

    missing = [k for k in ("keyColumns", "attrColumns", "seqColumn")
               if not p.get(k)]
    if missing:
        raise ValueError(f"CDC_SCD2_APPLY parameters missing: {missing}")
    dim = source("dim")
    if dim is None:
        raise ValueError("CDC_SCD2_APPLY requires extraSources.dim "
                         "(the existing SCD2 dimension; bootstrap one "
                         "with SCD2_MERGE first)")
    return cdc_scd2_apply(dim, df, list(p["keyColumns"]),
                          list(p["attrColumns"]), p["seqColumn"],
                          op_col=p.get("opColumn", "op"))


def _passage_dedup_transform(df: DataFrame, p: dict, source=None) -> DataFrame:
    """Declarative passage-level dedup stage (operators/corpus.py wired
    into the job spec): replaces ``textColumn`` with its first-occurrence
    rebuild, preserving every other column. Parameters: idColumn
    ('doc_id'), textColumn ('text'), blockTokens (16), dropEmptied (True —
    drop documents whose every passage was seen earlier)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import passage_dedup
    id_col = p.get("idColumn", "doc_id")
    text_col = p.get("textColumn", "text")
    pd_ = passage_dedup(df, id_col, text_col,
                        int(p.get("blockTokens", 16)))
    if p.get("dropEmptied", True):
        pd_ = pd_.filter(F.col("n_kept") > 0)
    return (df.drop(text_col)
            .join(pd_.select(id_col,
                             F.col("text_deduped").alias(text_col)),
                  id_col))


def _quality_filter_transform(df: DataFrame, p: dict,
                              source=None) -> DataFrame:
    """Declarative Gopher-rule quality stage. mode='filter' (default)
    keeps only rows passing every rule; mode='annotate' appends the rule
    booleans + ``keep`` so downstream steps can route on them. Threshold
    parameters mirror operators/corpus.quality_rules."""
    from etl_load_spark.operators.corpus import quality_rules
    rules = quality_rules(
        df[p.get("textColumn", "text")],
        min_words=int(p.get("minWords", 30)),
        max_words=int(p.get("maxWords", 100_000)),
        min_mean_len=float(p.get("minMeanWordLen", 2.0)),
        max_mean_len=float(p.get("maxMeanWordLen", 12.0)),
        min_stopwords=int(p.get("minStopwords", 1)),
        min_distinct_ratio=float(p.get("minDistinctRatio", 0.1)))
    keep = rules[0] & rules[1] & rules[2] & rules[3]
    if p.get("mode", "filter") == "annotate":
        return df.select("*", *rules, keep.alias("keep"))
    return df.filter(keep)


def _mixture_sample_transform(df: DataFrame, p: dict,
                              source=None) -> DataFrame:
    """Declarative data-mixture stage: deterministic weighted sampling by
    a key column. Parameters: weights (dict source→fraction, required),
    keyColumn ('source'), idColumn ('doc_id'), defaultWeight (0.0),
    salt ('mix' — rotate to draw an independent sample)."""
    from etl_load_spark.operators.corpus import mixture_sample
    if not p.get("weights"):
        raise ValueError("MIXTURE_SAMPLE requires parameters.weights")
    return mixture_sample(
        df, {str(k): float(v) for k, v in p["weights"].items()},
        id_col=p.get("idColumn", "doc_id"),
        key_col=p.get("keyColumn", "source"),
        default_weight=float(p.get("defaultWeight", 0.0)),
        salt=p.get("salt", "mix"))





def _quality_classifier_transform(df: DataFrame, p: dict,
                                  source=None) -> DataFrame:
    """Declarative model-based quality stage (operators/corpus.
    quality_classifier): mode='filter' (default) keeps rows the classifier
    scores above keepThreshold; mode='annotate' appends
    (n_tokens, mean_weight, keep). Parameters: idColumn, textColumn,
    keepThreshold (0.0)."""
    from etl_load_spark.operators.corpus import quality_classifier
    id_col = p.get("idColumn", "doc_id")
    scored = quality_classifier(df, id_col, p.get("textColumn", "text"),
                                float(p.get("keepThreshold", 0.0)))
    if p.get("mode", "filter") == "annotate":
        return df.join(scored, id_col)
    keep_ids = scored.filter("keep").select(id_col)
    return df.join(keep_ids, id_col, "left_semi")


def _semantic_dedup_transform(df: DataFrame, p: dict,
                              source=None) -> DataFrame:
    """Declarative SemDeDup stage (operators/similarity.semantic_dedup):
    finds near-duplicate pairs via k-means-blocked exact cosine and drops
    the HIGHER id of every pair. Parameters: idColumn ('vec_id'),
    vectorColumn ('embedding'), threshold (0.95), nCells (16), seed (42)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.similarity import semantic_dedup
    id_col = p.get("idColumn", "vec_id")
    pairs = semantic_dedup(
        df, threshold=float(p.get("threshold", 0.95)),
        id_col=id_col, vec_col=p.get("vectorColumn", "embedding"),
        n_cells=int(p.get("nCells", 16)), seed=int(p.get("seed", 42)))
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _chunk_documents_transform(df: DataFrame, p: dict,
                               source=None) -> DataFrame:
    """Declarative chunking stage (operators/corpus.chunk_documents):
    REPLACES the row shape with the chunk relation (idColumn, chunk_no,
    chunk_text, n_tokens) — the shard step ahead of embedding/indexing.
    Stateless per row, so it runs on streams. Parameters: idColumn
    ('doc_id'), textColumn ('text'), chunkTokens (64), overlap (16)."""
    from etl_load_spark.operators.corpus import chunk_documents
    return chunk_documents(df, p.get("idColumn", "doc_id"),
                           p.get("textColumn", "text"),
                           int(p.get("chunkTokens", 64)),
                           int(p.get("overlap", 16)))


def _lm_surprisal_transform(df: DataFrame, p: dict, source=None) -> DataFrame:
    """Declarative LM-surprisal stage (operators/text.bigram_surprisal —
    the CCNet perplexity filter): score each document's bits-per-bigram
    under the corpus-trained Laplace-smoothed bigram model.
    mode='filter' keeps the predictable head, cut by exactly ONE of
    maxBits (absolute bits-per-bigram ceiling) or keepQuantile (keep
    the lowest-scoring fraction — CCNet's own corpus-relative form; a
    self-trained model's absolute scores shift with corpus size, so
    there is no defaultable absolute threshold). mode='annotate'
    appends (n_bigrams, total_bits, bits_per_bigram); <2-token
    documents score no events and are DROPPED in filter mode /
    NULL-scored in annotate mode. The quantile is percentile_approx
    over the doc-level score relation — t-digest, distributed, bounded
    memory at any corpus size. Parameters: idColumn ('doc_id'),
    textColumn ('text'), maxBits | keepQuantile, mode."""
    from etl_load_spark.operators.text import bigram_surprisal
    id_col = p.get("idColumn", "doc_id")
    scored = bigram_surprisal(df, id_col, p.get("textColumn", "text"))
    if p.get("mode", "filter") == "annotate":
        # annotate mode computes scores only — a cut parameter here is a
        # misconfigured spec, not a silent no-op (mirrors the filter-mode
        # exactly-one check below)
        stray = sorted(k for k in ("maxBits", "keepQuantile") if k in p)
        if stray:
            raise ValueError(
                f"LM_SURPRISAL mode='annotate' does not cut; remove "
                f"{stray} or use mode='filter'")
        return df.join(scored, id_col, "left")
    if ("maxBits" in p) == ("keepQuantile" in p):
        raise ValueError("LM_SURPRISAL filter mode requires exactly one "
                         "of maxBits (absolute bits-per-bigram cut) or "
                         "keepQuantile (keep the most predictable "
                         "fraction); use mode='annotate' to inspect the "
                         "score distribution first")
    if "keepQuantile" in p:
        q = float(p["keepQuantile"])
        if not 0.0 < q <= 1.0:
            raise ValueError(f"keepQuantile must be in (0, 1], got {q}")
        cut = scored.agg(F.percentile_approx(
            "bits_per_bigram", F.lit(q), F.lit(10000)).alias("_cut"))
        keep = (scored.crossJoin(F.broadcast(cut))
                .filter(F.col("bits_per_bigram") <= F.col("_cut"))
                .select(id_col))
    else:
        keep = (scored.filter(F.col("bits_per_bigram")
                              <= float(p["maxBits"]))
                .select(id_col))
    return df.join(keep, id_col, "left_semi")


def _decontaminate_transform(df: DataFrame, p: dict, source) -> DataFrame:
    """Declarative eval-set decontamination stage (operators/bloom.
    decontaminate): the held-out benchmark comes from
    ``extra_sources["eval"]``; mode='filter' (default) DROPS every
    document sharing a verbatim n-gram with it, mode='annotate' appends
    ``n_shared_ngrams`` (0 for clean docs). Parameters: idColumn
    ('doc_id'), textColumn ('text'), ngram (8), fpp (0.01),
    evalTextColumn / evalIdColumn (default to the corpus names),
    evalFilter (optional SQL predicate narrowing the eval source —
    e.g. a held-out split carved from a shared table)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.bloom import decontaminate
    ev = source("eval")
    if ev is None:
        raise ValueError("DECONTAMINATE requires extraSources.eval "
                         "(the held-out benchmark to scrub against)")
    id_col = p.get("idColumn", "doc_id")
    if p.get("evalFilter"):
        ev = ev.filter(p["evalFilter"])
    ev = ev.select(
        F.col(p.get("evalIdColumn", id_col)).alias(id_col),
        F.col(p.get("evalTextColumn",
                    p.get("textColumn", "text"))).alias("text"))
    hits = decontaminate(
        df.select(F.col(id_col), F.col(p.get("textColumn", "text"))
                  .alias("text")),
        ev, id_col=id_col, text_col="text",
        n=int(p.get("ngram", 8)), fpp=float(p.get("fpp", 0.01)))
    if p.get("mode", "filter") == "annotate":
        return (df.join(hits.withColumnRenamed("train_doc_id", id_col),
                        id_col, "left")
                .withColumn("n_shared_ngrams",
                            F.coalesce("n_shared_ngrams", F.lit(0))))
    return df.join(hits.withColumnRenamed("train_doc_id", id_col),
                   id_col, "left_anti")


def _cluster_balance_transform(df: DataFrame, p: dict,
                               source=None) -> DataFrame:
    """Declarative cluster-balanced selection stage (operators/similarity
    anchor_assign + cluster_balanced_sample): assign rows to their
    nearest label anchor by cosine, thin every cluster toward the
    smallest. mode='filter' (default) keeps the sampled rows (original
    columns + ``cluster``); mode='annotate' returns ALL rows with their
    ``cluster`` — assignment only, no thinning. Parameters: idColumn
    ('vec_id'), vectorColumn ('embedding'), labelColumn ('label'),
    salt ('bal')."""
    from etl_load_spark.operators.similarity import (
        anchor_assign, cluster_balanced_sample, min_id_anchors)
    id_col = p.get("idColumn", "vec_id")
    vec_col = p.get("vectorColumn", "embedding")
    anchors = min_id_anchors(df, p.get("labelColumn", "label"),
                             id_col, vec_col)
    asg = anchor_assign(df, anchors, id_col, vec_col)
    if p.get("mode", "filter") == "annotate":
        return df.join(asg.select(id_col, "cluster"), id_col)
    kept = cluster_balanced_sample(asg, id_col, salt=p.get("salt", "bal"))
    return df.join(kept.select(id_col, "cluster"), id_col)


def _cross_source_dedup_transform(df: DataFrame, p: dict,
                                  source=None) -> DataFrame:
    """Declarative cross-source priority dedup: keep one survivor per
    identical normalized content, preferring sources in
    parameters.priority order (required, best first), min id as
    tie-break. NULL-text rows drop (nothing to deduplicate). Row shape is
    preserved — survivors keep every column."""
    from etl_load_spark.operators.corpus import cross_source_dedup
    if not p.get("priority"):
        raise ValueError("CROSS_SOURCE_DEDUP requires parameters.priority "
                         "(preferred sources, best first)")
    id_col = p.get("idColumn", "doc_id")
    surv = cross_source_dedup(
        df, [str(s) for s in p["priority"]], id_col=id_col,
        text_col=p.get("textColumn", "text"),
        source_col=p.get("sourceColumn", "source"))
    return df.join(surv.select(id_col), id_col, "semi")


def _token_budget_transform(df: DataFrame, p: dict, source=None) -> DataFrame:
    """Declarative token-budget mixture realization: keep documents that
    fit each source's TOKEN budget (parameters.budgets, required), taken
    in deterministic md5 order with the boundary document included.
    NULL-text and unbudgeted-source rows drop. Row shape is preserved."""
    from etl_load_spark.operators.corpus import token_budget_kept
    if not p.get("budgets"):
        raise ValueError("TOKEN_BUDGET requires parameters.budgets "
                         "(source -> token budget)")
    id_col = p.get("idColumn", "doc_id")
    kept = token_budget_kept(
        df, {str(k): int(v) for k, v in p["budgets"].items()},
        id_col=id_col, text_col=p.get("textColumn", "text"),
        source_col=p.get("sourceColumn", "source"),
        n_buckets=int(p.get("nBuckets", 4096)),
        salt=p.get("salt", "budget"))
    return df.join(kept.select(F.col("_id").alias(id_col)), id_col, "semi")


def _assign_shards_transform(df: DataFrame, p: dict, source=None) -> DataFrame:
    """Declarative shard assignment: append a deterministic shard column
    (portable id-hash mod nShards) for the destination's partitionBy —
    a pure projection, so it is stream-safe and adds no shuffle."""
    from etl_load_spark.operators.corpus import shard_assign
    return shard_assign(df, n_shards=int(p.get("nShards", 64)),
                        id_col=p.get("idColumn", "doc_id"),
                        salt=p.get("salt", "shard"),
                        shard_col=p.get("shardColumn", "shard"))


def _sequence_pack_transform(df: DataFrame, p: dict, source=None) -> DataFrame:
    """Declarative sequence packing (operators/corpus.sequence_pack):
    concat-and-chunk the corpus into fixed ``seqLen`` training windows
    in a deterministic pseudo-random order. mode='annotate' (default)
    appends the packing manifest columns (n_tokens, start_off,
    first_seq, last_seq, n_seqs) to every row; mode='manifest' returns
    the doc-level manifest alone — the table a sequence writer consumes.
    NULL-text/id rows get NULL manifest columns in annotate mode and
    are absent from manifest mode (no position in the packed stream).
    Parameters: seqLen (2048), idColumn ('doc_id'), textColumn
    ('text'), nBuckets (4096), salt ('pack')."""
    from etl_load_spark.operators.corpus import sequence_pack
    id_col = p.get("idColumn", "doc_id")
    man = sequence_pack(df, seq_len=int(p.get("seqLen", 2048)),
                        id_col=id_col,
                        text_col=p.get("textColumn", "text"),
                        n_buckets=int(p.get("nBuckets", 4096)),
                        salt=p.get("salt", "pack"))
    if p.get("mode", "annotate") == "manifest":
        return man
    return df.join(man, id_col, "left")


def _incremental_dedup_transform(df: DataFrame, p: dict,
                                 source) -> DataFrame:
    """Declarative batch admission against the already-admitted corpus
    (operators/dedup.incremental_dedup): the admitted-content index
    comes from ``extraSources.history``; rows whose normalized content
    is already admitted — or appears in the batch under a smaller id —
    drop; survivors keep every column. ``historyBloom: true`` switches
    to the bloom-prefiltered anti-join (the oversized-history shape;
    answer identical). Parameters: idColumn ('doc_id'), textColumn
    ('text'), historyTextColumn (defaults to textColumn), historyBloom
    (false), bloomFpp (0.01)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.dedup import incremental_dedup
    hist = source("history")
    if hist is None:
        raise ValueError("INCREMENTAL_DEDUP requires extraSources.history "
                         "(the already-admitted corpus or its content "
                         "index)")
    id_col = p.get("idColumn", "doc_id")
    text_col = p.get("textColumn", "text")
    hist = hist.select(
        F.col(p.get("historyTextColumn", text_col)).alias(text_col))
    surv = incremental_dedup(
        df, hist, id_col=id_col, text_col=text_col,
        history_bloom=bool(p.get("historyBloom", False)),
        bloom_fpp=float(p.get("bloomFpp", 0.01)))
    return df.join(surv.select(id_col), id_col, "semi")


def _importance_resample_transform(df: DataFrame, p: dict,
                                   source) -> DataFrame:
    """Declarative DSIR-style targeted selection (operators/corpus.
    importance_weights): score documents by the quantized
    log-likelihood ratio of their hashed n-gram features under the
    ``extraSources.target`` distribution vs the raw corpus.
    mode='annotate' appends (n_feats, total_bits, bits_per_feat);
    mode='filter' (default) keeps the most target-like ``keepQuantile``
    fraction (required in filter mode — a self-relative cut, since
    quantized LLR scales with corpus/target overlap). Parameters:
    idColumn ('doc_id'), textColumn ('text'), nBuckets (1024),
    targetFilter (optional SQL predicate narrowing the target source),
    keepQuantile, mode."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import importance_weights
    tgt = source("target")
    if tgt is None:
        raise ValueError("IMPORTANCE_RESAMPLE requires extraSources.target "
                         "(the distribution to select toward)")
    id_col = p.get("idColumn", "doc_id")
    text_col = p.get("textColumn", "text")
    if p.get("targetFilter"):
        tgt = tgt.filter(p["targetFilter"])
    # loud config check: an empty target distribution would NULL the
    # smoothing constant (SUM over zero rows) and silently NULL-score
    # the whole corpus
    if tgt.filter(F.col(text_col).isNotNull()).limit(1).count() == 0:
        raise ValueError(
            "IMPORTANCE_RESAMPLE: extraSources.target has no non-NULL "
            f"{text_col!r} rows" + (f" after targetFilter "
                                    f"{p['targetFilter']!r}"
                                    if p.get("targetFilter") else ""))
    scored = importance_weights(df, tgt, id_col=id_col, text_col=text_col,
                                n_buckets=int(p.get("nBuckets", 1024)))
    if p.get("mode", "filter") == "annotate":
        return df.join(scored, id_col, "left")
    if "keepQuantile" not in p:
        raise ValueError("IMPORTANCE_RESAMPLE filter mode requires "
                         "keepQuantile (the most target-like fraction to "
                         "keep); use mode='annotate' to inspect scores")
    q = float(p["keepQuantile"])
    if not 0.0 < q <= 1.0:
        raise ValueError(f"keepQuantile must be in (0, 1], got {q}")
    cut = scored.agg(F.percentile_approx(
        "bits_per_feat", F.lit(1.0 - q), F.lit(10000)).alias("_cut"))
    keep = (scored.crossJoin(F.broadcast(cut))
            .filter(F.col("bits_per_feat") >= F.col("_cut"))
            .select(id_col))
    return df.join(keep, id_col, "left_semi")


def _quantize_embeddings_transform(df: DataFrame, p: dict,
                                   source=None) -> DataFrame:
    """Declarative int8 scalar quantization (operators/similarity.
    quantize_kernel_udf): appends q_min, q_max, q_sum, codes — the
    per-vector calibration range plus the full SQ8 code vector. A PURE
    PROJECTION (one Arrow-batched kernel fused into the scan — no
    shuffle, no state), so it is STREAM-SAFE; dirty rows (NULL/empty
    array, NULL/NaN/±inf element) get all-NULL quantization columns
    rather than dropping (keep row shape; filter downstream if
    desired). Parameters: vectorColumn ('embedding')."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.similarity import quantize_kernel_udf
    vec = p.get("vectorColumn", "embedding")
    q = quantize_kernel_udf()(F.col(vec)).alias("_q")
    return (df.withColumn("_q", q)
            .withColumn("q_min", F.col("_q.q_min"))
            .withColumn("q_max", F.col("_q.q_max"))
            .withColumn("q_sum", F.col("_q.q_sum"))
            .withColumn("codes", F.col("_q.codes"))
            .drop("_q"))


def _stratified_sample_transform(df: DataFrame, p: dict,
                                 source=None) -> DataFrame:
    """Declarative minority-class balancing (operators/corpus.
    stratified_sample): keep the first min-stratum-size rows of every
    stratum in deterministic md5 order. NULL stratum/id rows drop (no
    deterministic position). Row shape is preserved. Parameters:
    stratumColumn ('lang'), idColumn ('doc_id'), nBuckets (4096),
    salt ('strat')."""
    from etl_load_spark.operators.corpus import stratified_sample
    id_col = p.get("idColumn", "doc_id")
    kept = stratified_sample(df,
                             stratum_col=p.get("stratumColumn", "lang"),
                             id_col=id_col,
                             n_buckets=int(p.get("nBuckets", 4096)),
                             salt=p.get("salt", "strat"))
    return df.join(kept.select(id_col), id_col, "semi")


def _assign_split_transform(df: DataFrame, p: dict, source=None) -> DataFrame:
    """Declarative leakage-safe split assignment (operators/corpus.
    grouped_split): append a deterministic train/valid/test split keyed
    on ``groupColumn`` (required — e.g. a registered-domain column, so
    same-site near-duplicates never straddle splits; pass the id column
    to get the q60 doc-level behavior). Parameters: groupColumn,
    splits ([[name, percent], ...] summing to 100; default 80/10/10),
    outputColumn ('split'), salt ('gsplit'). Pure projection —
    STREAM-SAFE, no shuffle."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import DEFAULT_SPLITS, grouped_split
    if not p.get("groupColumn"):
        raise ValueError("ASSIGN_SPLIT requires parameters.groupColumn "
                         "(the leakage-grouping key)")
    splits = (tuple((str(n), int(w)) for n, w in p["splits"])
              if p.get("splits") else DEFAULT_SPLITS)
    return df.withColumn(
        p.get("outputColumn", "split"),
        grouped_split(F.col(p["groupColumn"]), splits=splits,
                      salt=p.get("salt", "gsplit")))


def _markup_strip_transform(df: DataFrame, p: dict, source=None) -> DataFrame:
    """Declarative markup hygiene (operators/text.strip_markup): append
    the cleaned text as ``outputColumn`` ('clean_text'; set it to
    textColumn to clean in place) and — when ``withStats`` (default
    true) — the boilerplate signals n_tags / n_links / link_chars.
    Pure map-side regex — STREAM-SAFE, no shuffle."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.text import markup_stats, strip_markup
    text_col = p.get("textColumn", "text")
    out = df
    if p.get("withStats", True):
        out = out.select("*", *markup_stats(F.col(text_col)))
    return out.withColumn(p.get("outputColumn", "clean_text"),
                          strip_markup(F.col(text_col)))


def _url_canonicalize_transform(df: DataFrame, p: dict,
                                source=None) -> DataFrame:
    """Declarative URL key hygiene (operators/text.canonicalize_url):
    append the canonical form of ``urlColumn`` (required — no corpus
    convention to default to) as ``outputColumn`` ('canonical_url'),
    plus the registered domain as ``domainColumn`` when set. Pure
    map-side regex/array expressions — STREAM-SAFE, no shuffle."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.text import (canonicalize_url,
                                               registered_domain)
    if not p.get("urlColumn"):
        raise ValueError("URL_CANONICALIZE requires parameters.urlColumn")
    url = F.col(p["urlColumn"])
    out = df.withColumn(p.get("outputColumn", "canonical_url"),
                        canonicalize_url(url))
    if p.get("domainColumn"):
        out = out.withColumn(p["domainColumn"],
                             registered_domain(url, from_url=True))
    return out


def _priority_sample_transform(df: DataFrame, p: dict,
                               source=None) -> DataFrame:
    """Declarative exact-SIZE weighted sampling (operators/corpus.
    priority_sample — the q169 A-Res scheme): keep exactly ``size``
    rows, weight-proportionally without replacement, deterministic
    (hash-uniform draws, no RNG). The SIZE-budget complement of
    MIXTURE_SAMPLE's rate and IMPORTANCE_RESAMPLE's quantile modes —
    the form a fixed token/example budget needs. Rows with NULL or
    non-positive weight are excluded. Row shape is preserved.
    Parameters: size (required), weightColumn (required),
    idColumn ('doc_id'), salt ('ares')."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import priority_sample
    missing = [k for k in ("size", "weightColumn") if not p.get(k)]
    if missing:
        raise ValueError(f"PRIORITY_SAMPLE parameters missing: {missing}")
    return priority_sample(df, int(p["size"]),
                           F.col(p["weightColumn"]),
                           id_col=p.get("idColumn", "doc_id"),
                           salt=p.get("salt", "ares")).drop("_priority")


def _quota_sample_transform(df: DataFrame, p: dict, source=None) -> DataFrame:
    """Declarative balanced fine-tune set (operators/corpus.
    quota_stratified_sample — q170): EXACTLY min(quota, stratum size)
    rows per listed stratum, unlisted strata excluded; per-stratum
    A-Res weight-proportional selection when ``weightColumn`` is given,
    uniform-deterministic otherwise. Row shape is preserved.
    Parameters: quotas (required — {stratum: size} object),
    stratumColumn ('lang'), idColumn ('doc_id'),
    weightColumn (optional), nBuckets (4096), salt ('quota')."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import quota_stratified_sample
    if not p.get("quotas"):
        raise ValueError("QUOTA_SAMPLE requires parameters.quotas "
                         "({stratum: size})")
    id_col = p.get("idColumn", "doc_id")
    kept = quota_stratified_sample(
        df, {str(s): int(q) for s, q in p["quotas"].items()},
        stratum_col=p.get("stratumColumn", "lang"), id_col=id_col,
        weight=(F.col(p["weightColumn"]) if p.get("weightColumn")
                else None),
        n_buckets=int(p.get("nBuckets", 4096)),
        salt=p.get("salt", "quota"))
    return df.join(kept.select(id_col), id_col, "semi")


def _window_minhash_dedup_transform(df: DataFrame, p: dict,
                                    source=None) -> DataFrame:
    """Declarative paragraph-granularity near-dedup stage
    (operators/dedup.window_minhash_pairs — q171): finds document pairs
    sharing at least one NEAR-duplicate sliding token window (edited
    boilerplate, lightly-reworded quoted passages — invisible to
    whole-document MinHash and to exact passage dedup) and drops the
    HIGHER id of every pair, the SEMANTIC_DEDUP survivorship rule. Row
    shape is preserved. ``minWindowPairs`` optionally requires that
    many matching window pairs before a pair counts (1 = any shared
    near-dup paragraph); ``maxBucketWindows`` is the documented
    hot-bucket approximation knob for corpus scale. The id column must
    be integral (the operator refuses strings up front). Parameters:
    idColumn ('doc_id'), textColumn ('text'), windowTokens (32),
    stride (16), n (3), threshold (0.5), minWindowPairs (1),
    maxBucketWindows (None)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.dedup import window_minhash_pairs
    id_col = p.get("idColumn", "doc_id")
    mbw = p.get("maxBucketWindows")
    pairs = window_minhash_pairs(
        df, id_col, p.get("textColumn", "text"),
        window_tokens=int(p.get("windowTokens", 32)),
        stride=int(p.get("stride", 16)), n=int(p.get("n", 3)),
        threshold=float(p.get("threshold", 0.5)),
        max_bucket_windows=(int(mbw) if mbw is not None else None))
    if int(p.get("minWindowPairs", 1)) > 1:
        pairs = pairs.filter(
            F.col("n_window_pairs") >= int(p["minWindowPairs"]))
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")

def _hard_negatives_transform(df: DataFrame, p: dict,
                              source) -> DataFrame:
    """Declarative hard-negative mining (operators/similarity.
    hard_negatives — q156): for each anchor, the k most-similar
    corpus vectors with a DIFFERENT label, plus the best same-label
    similarity and margin. The incoming (mapped) rows are the corpus;
    anchors come from ``extraSources.anchors`` or, if absent, from
    ``parameters.anchorPredicate`` applied to the corpus itself (one of
    the two is required). Output shape is the mining result
    (q_id, n_id, cosine_sim, pos_sim, margin, rank). Parameters:
    k (5), idColumn ('vec_id'), vectorColumn ('embedding'),
    labelColumn ('label'), anchorPredicate, dupCeiling (0.999)."""
    from etl_load_spark.operators.similarity import hard_negatives

    anchors = source("anchors")
    if anchors is not None:
        if p.get("anchorPredicate"):
            anchors = anchors.filter(p["anchorPredicate"])
    elif p.get("anchorPredicate"):
        anchors = df.filter(p["anchorPredicate"])
    else:
        raise ValueError(
            "HARD_NEGATIVES requires extraSources.anchors (the training-"
            "batch slice to mine for) or parameters.anchorPredicate "
            "(a predicate selecting anchors from the corpus)")
    return hard_negatives(df, anchors, k=int(p.get("k", 5)),
                          id_col=p.get("idColumn", "vec_id"),
                          vec_col=p.get("vectorColumn", "embedding"),
                          label_col=p.get("labelColumn", "label"),
                          dup_ceiling=float(p.get("dupCeiling", 0.999)))


def _asof_join_transform(df: DataFrame, p: dict, source) -> DataFrame:
    """Declarative backward as-of join (operators/asof_join — q51):
    attach to each row the most recent ``extraSources.<rightSource>``
    row at or before its timestamp, per key. Parameters: rightSource
    ('right' — an extraSources key), on (key column list,
    ['user_id']), leftTsColumn ('ts'), rightTsColumn (defaults to
    leftTsColumn), tolerance (optional day-time interval string,
    validated against the strict grammar — the injection-surface
    rule), how ('left' | 'inner'). Right payload columns must not
    collide with left columns (pre-alias in the right source's
    query/table). 100 TB: the operator unions the two sides and runs
    ONE window over (key, ts) — a single shuffle, no join operator,
    no candidate blow-up on hot keys (asof_join module docstring)."""
    from etl_load_spark.operators.asof_join import asof_join
    src_key = p.get("rightSource", "right")
    right = source(src_key)
    if right is None:
        raise ValueError(
            f"ASOF_JOIN requires extraSources.{src_key!r} (the right "
            "side to attach); set parameters.rightSource to pick a "
            "different extraSources key")
    tol = None
    if p.get("tolerance"):
        from etl_load_spark.operators.timeseries import validate_bucket
        validate_bucket(p["tolerance"])
        tol = F.expr(f"INTERVAL {p['tolerance']}")
    return asof_join(df, right, on=p.get("on", ["user_id"]),
                     left_ts=p.get("leftTsColumn", "ts"),
                     right_ts=p.get("rightTsColumn"),
                     tolerance=tol, how=p.get("how", "left"))


#: spec parameters an _Op coerces; every other parameter passes as given
_COERCE = {"bucketSeconds": int, "maxPointsPerSeries": int, "nbins": int,
           "k": int, "resolution": int, "lo": float, "hi": float,
           "carryIn": bool, "emitDowntime": bool}


@dataclass(frozen=True)
class _Op:
    """A stage that IS one operator, ``etl_load_spark.<module>.<name>``,
    called with the spec's parameters as its keyword arguments: camelCase
    → snake_case, ``xColumn`` → ``x_col`` (keyColumn → key_col, carryIn →
    carry_in, maxPointsPerSeries → max_points_per_series). Only the
    parameters the spec gives AND the operator takes are passed, so each
    default lives once — in the operator signature."""
    module: str
    name: str

    def signature(self) -> tuple[Callable, dict]:
        """The operator and its parameters after the input DataFrame."""
        mod = importlib.import_module(f"etl_load_spark.{self.module}")
        fn = getattr(mod, self.name)
        return fn, dict(list(inspect.signature(fn).parameters.items())[1:])

    def kwargs(self, p: dict) -> dict:
        _, params = self.signature()
        kw = {}
        for k, v in p.items():
            arg = re.sub(r"(?<=[a-z0-9])([A-Z])", r"_\1",
                         re.sub(r"Column$", "Col", k)).lower()
            if arg in params:
                cast = _COERCE.get(k)
                kw[arg] = cast(v) if cast and v is not None else v
        return kw

    def __call__(self, df: DataFrame, p: dict, source=None) -> DataFrame:
        fn, _ = self.signature()
        return fn(df, **self.kwargs(p))


@dataclass(frozen=True)
class _Stage:
    """One transformation type. ``batch(df, parameters, source)`` builds
    the stage — ``source(name)`` reads ``extraSources[name]`` (None when
    absent). ``stream`` is its form on a streaming job: None = ``batch``
    is stream-safe; a string = batch-only, the refusal text after
    "is batch-only"; an _Op = the watermark twin. ``key`` = a rollup's
    full group key (operator arguments resolve from the spec) — what the
    update-mode upsert merges micro-batches on."""
    batch: Callable
    stream: _Op | str | None = None
    key: tuple[str, ...] = ()


_TS, _SW = "operators.timeseries", "streaming.windows"

#: Every built-in transformation.type except the NONE / PYTHON_SCRIPT
#: hooks, declared once. Streaming forms: per-row / pure-projection
#: stages run unchanged on a stream; multi-stage stateful plans are not
#: expressible as ONE streaming query, so they refuse with the
#: streaming-native alternative instead of Spark's output-mode error;
#: the pure-aggregate rollups stream as their streaming/windows.py twins
#: — the identical aggregation minus the batch output sort, state
#: bounded by the watermark (the twin's ``watermark`` parameter).
#: OHLC/TREND/VALUE_HISTOGRAM/DELTA/VALUE_STATS are one watermarked
#: aggregate; STATE_DURATIONS/HEARTBEAT_UPTIME/TIME_WEIGHTED_AVG/CHANGES/
#: INSTANT_RATE run ONE watermarked collect_list aggregation plus a
#: stateless per-bucket fold (the batch lead/lag replayed inside the
#: sorted sample array), non-carry form only. With a file destination use
#: streaming.output_mode=update — the sink materializes via the
#: continuous-aggregate upsert keyed on ``key``
#: (sources/writers.write_stream_sink).
STAGES: dict[str, _Stage] = {
    "SCD2_MERGE": _Stage(_scd2_transform),
    "CDC_SCD2_APPLY": _Stage(_cdc_scd2_transform, (
        " (version bounding needs the whole key group); land the feed, "
        "then apply each landed batch downstream")),
    "PASSAGE_DEDUP": _Stage(_passage_dedup_transform, (
        "; streaming.windows.stream_block_dedup (checkpointed "
        "first-occurrence block filter) and reassemble documents in a "
        "downstream batch job")),
    "QUALITY_FILTER": _Stage(_quality_filter_transform),
    "MIXTURE_SAMPLE": _Stage(_mixture_sample_transform),
    "QUALITY_CLASSIFIER": _Stage(_quality_classifier_transform, (
        "; score incrementally with a watermarked aggregation, or run the "
        "classifier as a downstream batch job over the landed stream")),
    "SEMANTIC_DEDUP": _Stage(_semantic_dedup_transform, (
        "; dedup each landed increment in a downstream batch job (k-means "
        "blocking needs a corpus snapshot)")),
    "DECONTAMINATE": _Stage(_decontaminate_transform, (
        "; the bloom probe and verify join are stream-safe map-side "
        "stages, but the per-document shared-n-gram aggregation needs a "
        "landed batch pass — land the stream, then run DECONTAMINATE "
        "downstream")),
    "CLUSTER_BALANCE": _Stage(_cluster_balance_transform, (
        "; anchor fitting and cluster counts need a corpus snapshot; fit "
        "anchors offline, then apply anchor_assign (a map-side "
        "projection) in the stream and balance in a downstream batch "
        "job")),
    "CHUNK_DOCUMENTS": _Stage(_chunk_documents_transform),
    "LM_SURPRISAL": _Stage(_lm_surprisal_transform, (
        "; the bigram count table needs a corpus snapshot; train offline "
        "with operators/text.bigram_model, then score with "
        "score_with_bigram_model inside foreachBatch (a stream-safe "
        "stream-static join feeding a per-micro-batch reduction)")),
    "CROSS_SOURCE_DEDUP": _Stage(_cross_source_dedup_transform, (
        "; survivor choice needs the whole content group; dedup each "
        "landed increment in a downstream batch job, or use "
        "streaming.windows.stream_block_dedup for checkpointed "
        "first-seen-wins without source preference")),
    "TOKEN_BUDGET": _Stage(_token_budget_transform, (
        "; the running token total is corpus-global; land the stream, "
        "then realize the budget in a downstream batch job (ASSIGN_SHARDS "
        "is the stream-safe layout stage)")),
    "ASSIGN_SHARDS": _Stage(_assign_shards_transform),
    "SEQUENCE_PACK": _Stage(_sequence_pack_transform, (
        "; the packed stream's offsets are a corpus-global prefix sum; "
        "land the stream, then pack in a downstream batch job "
        "(ASSIGN_SHARDS is the stream-safe layout stage)")),
    "INCREMENTAL_DEDUP": _Stage(_incremental_dedup_transform, (
        " (the within-batch survivor needs the whole content group); use "
        "streaming.windows.stream_content_dedup for checkpointed "
        "first-seen-wins content admission on a live stream "
        "(stream-static anti join against the admitted index + stateful "
        "in-stream dedup), or land the stream and admit each landed "
        "batch downstream")),
    "IMPORTANCE_RESAMPLE": _Stage(_importance_resample_transform, (
        " (the raw-corpus feature histogram is corpus-global); train the "
        "histograms offline, then score the stream with a broadcast join "
        "against the frozen bucket-score table")),
    "QUANTIZE_EMBEDDINGS": _Stage(_quantize_embeddings_transform),
    "STRATIFIED_SAMPLE": _Stage(_stratified_sample_transform, (
        "; the minority-stratum size is corpus-global; land the stream, "
        "then balance in a downstream batch job (MIXTURE_SAMPLE is the "
        "stream-safe fixed-rate alternative)")),
    "ASSIGN_SPLIT": _Stage(_assign_split_transform),
    "MARKUP_STRIP": _Stage(_markup_strip_transform),
    "URL_CANONICALIZE": _Stage(_url_canonicalize_transform),
    "PRIORITY_SAMPLE": _Stage(_priority_sample_transform, (
        "; the exact-size cut is a corpus-global top-k; land the stream, "
        "then sample the landed batch downstream (MIXTURE_SAMPLE is the "
        "stream-safe fixed-rate alternative)")),
    "QUOTA_SAMPLE": _Stage(_quota_sample_transform, (
        "; per-stratum exact sizes are corpus-global top-k cuts; land the "
        "stream, then sample the landed batch downstream (MIXTURE_SAMPLE "
        "is the stream-safe fixed-rate alternative)")),
    "HARD_NEGATIVES": _Stage(_hard_negatives_transform, (
        " (the per-anchor top-k and best-positive max need the whole "
        "corpus snapshot); land the stream, then mine each landed "
        "snapshot downstream")),
    "WINDOW_MINHASH_DEDUP": _Stage(_window_minhash_dedup_transform, (
        "; the banded LSH self-join and exact verify need a corpus "
        "snapshot; land the stream, then dedup each landed batch "
        "downstream (streaming.windows.stream_content_dedup is the "
        "stream-safe exact-content alternative)")),
    "ASOF_JOIN": _Stage(_asof_join_transform, (
        " (the union-window argmax needs each key's ordered history); for "
        "bounded-lookback stream enrichment use "
        "streaming.windows.stream_interval_join, or land the stream and "
        "enrich each landed batch downstream")),

    # ── time-series rollups: each stage IS its operators/timeseries
    # function (see _Op for the parameter renaming; the operator
    # signature holds every default). Common parameters: keyColumn,
    # tsColumn, valueColumn, orderColumn (the deterministic tie-break),
    # bucket (a day-time interval string). Timestamps and order ids must
    # be non-negative where the padded (epoch_micros, order) key orders
    # samples; a violating feed fails LOUDLY, it never mis-orders.

    # q172 gap fill: bucket-resample a (key, ts, value) feed onto the
    # dense global bucket grid; the actual per-bucket average plus LOCF
    # and linear-interpolation fills with the Timescale edge contract
    # (leading buckets NULL for both fills; trailing buckets carry LOCF
    # only). Output (key, bucket_ts, val, locf_val, interp_val). Values
    # must be non-negative (exact fixed-point half-up arithmetic is
    # unsigned).
    "GAPFILL": _Stage(_Op(_TS, "gapfill"), (
        "; the dense grid bounds and the LOCF/interpolation windows are "
        "feed-global; run the streaming rollup "
        "(streaming.windows.time_bucket_rollup) to land bucket aggregates "
        "incrementally, then gap-fill the landed table downstream")),
    # q173 counter increase/rate with reset detection: per-series deltas
    # ordered by (tsColumn, orderColumn), a decrease = counter restart
    # (the post-reset value is the step), rolled up to (key, bucket_ts,
    # n_samples, n_resets, increase, rate_per_sec). Values must be
    # non-negative. bucketSeconds = the rate denominator (defaults to the
    # parsed bucket width, so it cannot silently drift from the bucket —
    # set it only to rate against a different horizon); hotSplit (an
    # interval string, e.g. '1 day') engages the parallel-prefix stitch
    # for feeds where one series dwarfs the rest — identical results,
    # the per-series sort parallelizes per time slice.
    "COUNTER_RATE": _Stage(_Op(_TS, "counter_rate"), (
        "; sample-to-sample lag needs each series' full ordered history; "
        "keep the last sample per series in keyed state "
        "(streaming.stateful, applyInPandasWithState) to emit deltas "
        "incrementally, or land the stream and roll up each landed batch "
        "downstream")),
    # q174 OHLC / candlestick: per (typeColumn, bucket) open/high/low/
    # close and the sample count, open/close deterministic via the
    # raise-guarded padded (epoch_micros, orderColumn) key. Output (type,
    # bucket_ts, open, high, low, close, n_events). One map-side-
    # combinable hash aggregate: the shuffle is candle-sized.
    "OHLC": _Stage(_Op(_TS, "ohlc"), _Op(_SW, "streaming_ohlc"),
                   ("type_col", "bucket_ts")),
    # q175 time-weighted average: each sample weighted by how long it
    # HELD (the in-bucket LOCF integral), so burst sampling cannot bias
    # the bucket mean. Output (key, bucket_ts, n_samples, twa).
    # Self-contained per bucket by default; carryIn: true selects the
    # Timescale interpolated_average contract (q176 — the previous
    # bucket's value weights the bucket-start span); hotSplit (interval
    # string; with carryIn, parallelizes a dominant series' cross-bucket
    # carry per time slice — identical results).
    "TIME_WEIGHTED_AVG": _Stage(
        _Op(_TS, "time_weighted_avg"),
        _Op(_SW, "streaming_time_weighted_avg"), ("key_col", "bucket_ts")),
    # q177 time in state: per (key, bucket, stateColumn) the integer-ms
    # hold time (in-bucket LOCF), the entry count and the sample count.
    # Output (key, bucket_ts, state, held_ms, n_entries, n_samples).
    # carryIn: true selects the Timescale interpolated_duration_in
    # contract (q180 — the previous recorded state holds from the bucket
    # start to the first sample); hotSplit as for TIME_WEIGHTED_AVG.
    "STATE_DURATIONS": _Stage(
        _Op(_TS, "state_durations"), _Op(_SW, "streaming_state_durations"),
        ("key_col", "bucket_ts", "state_col")),
    # q178 heartbeat liveness: each row is a heartbeat keeping its series
    # live for ``tolerance``; per (key, bucket) the beat count, the
    # uptime (union of tolerance-clipped in-bucket live intervals,
    # integer ms) and the mid-bucket outage count. Output (key,
    # bucket_ts, n_beats, uptime_ms, n_gaps). carryIn: true selects the
    # Timescale interpolated_uptime contract (q181 — the previous beat's
    # tolerance window extends across the bucket boundary); hotSplit as
    # for TIME_WEIGHTED_AVG; emitDowntime appends downtime_ms = bucket
    # width − uptime (the Timescale (interpolated_)downtime complement).
    "HEARTBEAT_UPTIME": _Stage(
        _Op(_TS, "heartbeat_uptime"), _Op(_SW, "streaming_heartbeat_uptime"),
        ("key_col", "bucket_ts")),
    # q179 LTTB visual downsampling: per series keep exactly
    # ``resolution`` points (first, last, and per equal-count bucket the
    # largest-triangle point vs the previous selection and the next
    # bucket's centroid); series with ≤ resolution points pass through.
    # Output: a subset of (key, ts, order, value). Sequential per series
    # — a grouped Arrow kernel (the one Pandas-backed stage in the
    # family; the task memory bound is one series' points, pre-slice
    # upstream for unbounded series — maxPointsPerSeries turns that
    # contract into a loud in-kernel guard).
    "LTTB": _Stage(_Op(_TS, "lttb"), (
        "; the largest-triangle selection is sequential over each "
        "series' complete point set; land the stream, then downsample "
        "each landed slice downstream (the per-bucket rollups — OHLC, "
        "TIME_WEIGHTED_AVG — are the incremental alternatives)")),
    # q183 least-squares trend: the OLS slope of value over time within
    # each (key, bucket), value units per second at 4 exact decimals
    # (pure integer sums, sign-split half-up quotient); NULL when the
    # bucket has zero time variance. Output (key, bucket_ts, n_samples,
    # slope_per_sec). One map-side-combinable hash aggregate.
    "TREND": _Stage(_Op(_TS, "trend"), _Op(_SW, "streaming_trend"),
                    ("key_col", "bucket_ts")),
    # q184 instant rate (Prometheus irate): per (key, bucket) the rate
    # between the bucket's LAST TWO samples in value/second at 4 exact
    # decimals, Prometheus reset rule on the final step; NULL under two
    # samples or a zero time delta. Output (key, bucket_ts, n_samples,
    # irate_per_sec). One exchange — lag window and max_by rollup share
    # (key, bucket).
    "INSTANT_RATE": _Stage(
        _Op(_TS, "instant_rate"), _Op(_SW, "streaming_instant_rate"),
        ("key_col", "bucket_ts")),
    # q185 value histogram (Timescale histogram()): nbins equal
    # cent-exact bins over [lo, hi) plus underflow bin 0 and overflow bin
    # nbins+1, one row per non-empty (key, bucket, bin). Output (key,
    # bucket_ts, bin, n_samples). One map-side-combinable hash aggregate.
    "VALUE_HISTOGRAM": _Stage(
        _Op(_TS, "value_histogram"), _Op(_SW, "streaming_value_histogram"),
        ("key_col", "bucket_ts", "bin")),
    # q186 gauge delta (Timescale delta()): last − first value over the
    # padded (epoch_micros, order) key, exact integer cents. Output (key,
    # bucket_ts, n_samples, delta). One min_by/max_by aggregate.
    "DELTA": _Stage(_Op(_TS, "delta"), _Op(_SW, "streaming_delta"),
                    ("key_col", "bucket_ts")),
    # q187 exact mean/variance (Timescale stats_agg): 4-decimal
    # fixed-point mean (sign-split half-up) and sample variance
    # S/(n(n−1)) from three integer sums; variance NULL under two
    # samples. Output (key, bucket_ts, n_samples, mean, variance).
    "VALUE_STATS": _Stage(
        _Op(_TS, "value_stats"), _Op(_SW, "streaming_value_stats"),
        ("key_col", "bucket_ts")),
    # q188 change count (Prometheus changes()): consecutive differing
    # cents over the (ts, order) total order; the bucket's first sample
    # is a baseline. Output (key, bucket_ts, n_samples, n_changes). The
    # in-bucket lag window and the rollup share one exchange.
    "CHANGES": _Stage(_Op(_TS, "changes"), _Op(_SW, "streaming_changes"),
                      ("key_col", "bucket_ts")),
    # q189 top-k frequent values (ClickHouse topK, exact): one row per
    # (key, bucket, rank ≤ k) with the value and its count, deterministic
    # (count DESC, value ASC) order. Output (key, bucket_ts, rank, value,
    # n_occurrences).
    "VALUE_TOPK": _Stage(_Op(_TS, "value_topk"), (
        "; the frequency ranking is two chained aggregations (per-value "
        "counts, then the rank cut) — not ONE streaming query; land the "
        "stream, then rank each landed batch downstream (VALUE_HISTOGRAM "
        "is the stream-safe distribution rollup)")),
}

#: every transformation.type apply_transformation accepts
KNOWN_TYPES = ("NONE", "PYTHON_SCRIPT", *sorted(STAGES))


def streaming_merge_keys(spec) -> list[str] | None:
    """The FULL group key of a streaming rollup stage's output — what the
    update-mode continuous-aggregate upsert merges micro-batches on
    (sources/writers.rollup_upsert_writer). Update mode emits only the
    groups changed per batch, so the sink must know the key to avoid
    deleting sibling groups in a touched bucket partition. Returns None
    for non-rollup specs (a raw update-mode SQL aggregate declares
    destination.details.merge_keys itself)."""
    tr = getattr(spec, "transformation", None)
    stage = STAGES.get(tr.type.upper()) if tr and tr.type else None
    if stage is None or not stage.key:
        return None
    _, params = stage.stream.signature()
    args = ({k: q.default for k, q in params.items()}
            | stage.stream.kwargs(tr.parameters or {}))
    return [args.get(col, col) for col in stage.key]
