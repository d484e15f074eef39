"""Free-text preparation for training pipelines: PII scrubbing and
document chunking.

``scrub_pii`` extends the engine's structured-column anonymizers
(``functions/anonymizers.py``) to unstructured text: regex rewrites of
emails, URLs, phone numbers, and IPv4 addresses to typed placeholder
tokens. Patterns are restricted to syntax with identical semantics in
Java regex (Spark) and RE2 (DuckDB) — character classes, bounded repeats,
``\\b`` — so the oracle can replay them verbatim; no lookaround. Pure
``regexp_replace`` chain: whole-stage codegen, shuffle-free, linear.

``chunk_documents`` explodes each document into overlapping token-window
chunks (the pretraining / RAG chunking step): tokens via whitespace
split, windows of ``chunk_size`` tokens every ``stride`` tokens, 1:N via
``explode(sequence(...))`` — no UDF, and the explode happens AFTER the
narrow projection so only the token array is amplified, not the full row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Pattern, placeholder — applied in order (URL before email: a URL can
# embed an @; the URL rewrite must win).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "[URL]"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"(\(\d{3}\)\s?|\b\d{3}[-.])\d{3}[-.]\d{4}\b", "[PHONE]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


def scrub_pii(text: Column | str) -> Column:
    """Replace every PII match with its placeholder token."""
    c = F.col(text) if isinstance(text, str) else text
    for pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def scrub_pii_sql(expr: str) -> str:
    """The identical rewrite chain as DuckDB SQL (the oracle side).
    DuckDB string literals are standard SQL — backslashes pass through to
    RE2 verbatim, so the patterns embed unchanged; only quotes escape."""
    out = expr
    for pattern, token in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pattern.replace(chr(39), chr(39) * 2)}', '{token}', 'g')"
    return out


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    stride: int = 48,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split documents into overlapping token-window chunks.
    Output: ``<id_col>, *carry_cols, chunk_id, chunk_text,
    n_chunk_tokens`` — one row per window; a document shorter than
    ``chunk_size`` yields one chunk. ``stride < chunk_size`` gives
    overlap (size - stride tokens).

    ``carry_cols`` rides per-document metadata (split label, language,
    source) through the explode map-side — callers must NOT join chunks
    back to the document frame to recover such columns: when the
    document frame is the tail of an expensive pipeline, a join
    references that plan in two branches and re-executes everything
    upstream of it (the pipeline_corpus lesson)."""
    if chunk_size <= 0 or stride <= 0:
        raise ValueError("chunk_size and stride must be positive")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    narrow = df.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        toks.alias("__toks"), F.explode(starts).alias("__start")
    ).where((F.col("__start") == 0) | (F.col("__start") < F.size("__toks")))
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_size)
    return narrow.select(
        id_col,
        *carry_cols,
        (F.col("__start") / stride).cast("long").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


def budget_select(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    key_col: str,
    budget: int,
    partitions: int | None = None,
) -> DataFrame:
    """Greedy selection under a global weight budget: keep the
    highest-``score_col`` rows (unique-key tie-break) until the cumulative
    ``weight_col`` would exceed ``budget`` — the "best documents until the
    token budget is met" corpus-curation step. A row is kept iff the total
    weight of all strictly-better rows plus its own weight is <= budget,
    so the cut is exact, deterministic, and order-independent.

    Output: ``<key_col>, <score_col>, <weight_col>, cum_weight`` (the
    running total including the row itself), restricted to kept rows.

    Scale (100 TB): the global cumulative sum is the engine's distributed
    two-pass prefix sum (``stats.global_ranks`` shape) — range-repartition
    on ``(score DESC, key)``, windowed sum within each partition, ONE
    per-partition total collected (``partitions`` rows), exclusive
    prefixes broadcast back. Never a single-reducer global window. The
    range projection is pinned between the two passes and released after
    an eager ``localCheckpoint`` of the (budget-bounded) result, so
    repeated calls leak no cached partitions."""
    from pyspark.sql import Window

    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    ranged = (
        df.select(
            F.col(key_col).alias("__k"),
            F.col(score_col).alias("__s"),
            F.col(weight_col).cast("long").alias("__w"),
        )
        .repartitionByRange(partitions, F.col("__s").desc(), F.col("__k").asc())
        .withColumn("__pid", F.spark_partition_id())
        .cache()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.col("__s").desc(), F.col("__k").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__cum", F.sum("__w").over(w))
    totals = sorted(
        (r["__pid"], r["t"])
        for r in ranged.groupBy("__pid").agg(F.sum("__w").alias("t")).collect()
    )
    prefix_rows, acc = [], 0
    for pid, t in totals:
        prefix_rows.append((pid, acc))
        acc += t or 0
    prefixes = spark.createDataFrame(
        prefix_rows or [(0, 0)], "__pid int, __base long"
    )
    out = (
        local.join(F.broadcast(prefixes), "__pid")
        .where(F.col("__base") + F.col("__cum") <= F.lit(int(budget)))
        .select(
            F.col("__k").alias(key_col),
            F.col("__s").alias(score_col),
            F.col("__w").alias(weight_col),
            (F.col("__base") + F.col("__cum")).alias("cum_weight"),
        )
    )
    pinned = out.localCheckpoint(eager=True)
    ranged.unpersist()
    return pinned


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int | None = None,
    cache_owner: list | None = None,
) -> DataFrame:
    """Assign documents to fixed-budget training sequences.

    Documents are laid out in ``id_col`` order; each gets its token count
    and the running offset of its first token, and lands in sequence
    ``offset div budget`` — offset-based packing: a document may straddle
    a budget boundary (the trainer truncates or spills it), which is the
    deterministic, shuffle-friendly approximation of greedy bin packing.
    Exact greedy packing (reset the counter at each overflow) is
    inherently sequential — order-dependent state per bin — and is
    precisely what this formulation avoids at 100 TB.

    The global running offset is a DISTRIBUTED two-pass prefix sum — a
    naive ``Window.orderBy(id)`` collapses the whole table onto one
    reducer, the classic global-window scale trap:

    1. range-repartition on ``id_col`` and cumsum WITHIN each partition
       (window keyed on ``spark_partition_id()``);
    2. collect one total per partition (bounded: one row per partition,
       same philosophy as the broadcast-threshold probe in
       plans/propagation.py) and broadcast-JOIN each partition's exclusive
       prefix back on ``__pid`` — a 2-column map of ``partitions`` rows,
       always under the broadcast threshold, so the plan cost is O(1) in
       partition count (a ``when()``-chain literal would grow the
       expression tree linearly and blow codegen past ~10⁴ partitions).

    The result is independent of the (sampled, non-deterministic) range
    boundaries because the offset depends only on the global id order.

    The intermediate (id, n_tokens, pid) projection must stay cached while
    the returned plan is alive (re-evaluation would re-sample range
    boundaries and mismatch the collected prefixes). Pass ``cache_owner``
    (any list) to receive the cached DataFrame and ``unpersist()`` it once
    the result is consumed; otherwise it lives until
    ``spark.catalog.clearCache()``.

    Output: ``id, n_tokens, seq_id, seq_offset`` where ``seq_offset`` is
    the document's first-token position within its sequence.
    """
    from pyspark.sql import Window

    from . import text_analysis

    toks = df.select(
        F.col(id_col),
        text_analysis.token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    if partitions is None:
        partitions = toks.sparkSession.sparkContext.defaultParallelism
    # CRITICAL: repartitionByRange picks boundaries by SAMPLING — two
    # evaluations of the same plan can choose different layouts, and the
    # per-partition prefixes would then be added to the wrong partitions
    # (observed at sf0.1). Materializing the narrow (id, n_tokens, pid)
    # projection pins ONE layout for both the totals pass and the cumsum.
    ranged = (
        toks.repartitionByRange(partitions, F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .cache()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn(
        "__local_cum", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    # One row per partition: (pid, partition token total). Bounded collect.
    totals = sorted(
        (r["__pid"], r["total"])
        for r in ranged.groupBy("__pid")
        .agg(F.sum("n_tokens").alias("total"))
        .collect()
    )
    prefix_rows = []
    running = 0
    for pid, total in totals:
        prefix_rows.append((pid, running))
        running += total
    # (the collect above materialized the cache: the cumsum job below is
    # guaranteed to read the SAME partition layout the prefixes describe)
    if cache_owner is not None:
        cache_owner.append(ranged)
    spark = toks.sparkSession
    if prefix_rows:
        prefix_df = spark.createDataFrame(prefix_rows, "__pid int, __base long")
        cum = local.join(F.broadcast(prefix_df), "__pid", "left").select(
            id_col,
            "n_tokens",
            (F.col("__local_cum") + F.coalesce(F.col("__base"), F.lit(0)))
            .alias("__offset"),
        )
    else:
        cum = local.select(
            id_col, "n_tokens", F.col("__local_cum").alias("__offset")
        )
    return cum.select(
        id_col,
        "n_tokens",
        ((F.col("__offset") - F.col("__offset") % budget_tokens)
         / budget_tokens).cast("long").alias("seq_id"),
        (F.col("__offset") % budget_tokens).alias("seq_offset"),
    )


def scrub_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup, SCRUB form: rewrite each document with
    every token position covered by a cross-document duplicated k-token
    gram removed. Completes ``text_analysis.duplicate_spans`` (which only
    measures the shared fraction) into the corpus-cleaning step of Lee et
    al. 2021 (arXiv:2107.06499) — suffix arrays don't distribute, rolling
    k-gram membership plus position-cover reassembly does.

    A position is removed when ANY duplicated gram occurrence covers it
    (gram starting at p covers p..p+k-1); documents shorter than k form
    one whole-document gram. Output: ``<id_col>, n_tokens, n_removed
    (int64), clean_text`` (kept tokens rejoined in order; empty when
    everything was duplicated).

    Scale (100 TB): the honest cost is the positional explode (rows ×
    document length). Everything downstream is bounded: the gram
    frequency aggregation map-side-combines on the gram key, only
    DUPLICATED occurrences explode into cover positions (duplication is
    the rare case in a healthy corpus), and the rebuild is one shuffle on
    the doc id with an in-row positional sort. At trillion-gram scale
    shuffle ``xxhash64(gram)`` instead of the gram text — kept exact here
    for bit-parity with the oracle.
    """
    from ..functions import textops as T
    from .dedup import ensure_parallelism

    # ensure_parallelism: the positional gram explode is CPU-heavy and the
    # single-file fixtures would serialize it onto 1-3 tasks (no-op at
    # real scale — CLAUDE.md gotcha).
    base = ensure_parallelism(df).select(
        F.col(id_col), T.tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks")
    starts = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    # The gram table feeds two consumers (frequency aggregate + cover
    # join) and the explode genuinely runs twice — but checkpointing it
    # was measured a LOCAL WASH (r13 A/B x3: old med 4.9 s, new 5.3) and
    # at scale the gram text is ~k x corpus bytes: materializing that to
    # executor disk loses to recomputing a map-side explode. Left lazy
    # deliberately (contrast: lsh_ingest's O(candidates) checkpoint).
    grams = (
        base.where(n > 0)
        .select(
            id_col,
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.struct(
                        s.alias("p"),
                        F.array_join(
                            F.slice(F.col("__toks"), s + 1, k), " "
                        ).alias("g"),
                    ),
                )
            ).alias("__sg"),
        )
        .select(id_col, F.col("__sg.p").alias("__p"),
                F.col("__sg.g").alias("__gram"))
    )
    tok = base.select(
        id_col, F.posexplode("__toks").alias("__pos", "__tok")
    )
    dup = (
        grams.groupBy("__gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__gram")
    )
    covered = (
        grams.join(dup, "__gram", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__p"), F.col("__p") + F.lit(k - 1))
            ).alias("__cpos"),
        )
        .distinct()
    )
    j = tok.join(
        covered,
        (tok[id_col] == covered[id_col])
        & (tok["__pos"] == covered["__cpos"]),
        "left_outer",
    ).select(tok[id_col], "__pos", "__tok", "__cpos")
    agg = j.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count("__cpos").cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__cpos").isNull(),
                            F.struct("__pos", "__tok"),
                        )
                    )
                ),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return base.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
        .alias("n_tokens"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def duplicate_span_islands(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MAXIMAL cross-document duplicated spans per document — the
    longest-match readout of exact-substring dedup (Lee et al. 2021,
    arXiv:2107.06499). Their single-node suffix array reports maximal
    duplicated substrings of length >= threshold; this computes the
    identical token-level spans distributively: a span of L >= k tokens
    is duplicated iff ALL of its L-k+1 constituent k-grams are
    duplicated, so the union of duplicated-k-gram covers IS the union
    of maximal duplicated spans, and merging adjacent covered positions
    (gaps-and-islands: position minus its per-doc rank is constant
    within a run) recovers each maximal span's start and length.

    Output: one row per maximal span — ``<id_col>, span_start (0-based
    token position, int64), span_len (int64, always >= k)``; documents
    with no duplicated span emit nothing. Documents SHORTER than k
    tokens contribute one whole-document gram whose cover still spans k
    positions, so for such a doc ``span_start + span_len`` can exceed
    its actual token count (a duplicated 3-token doc reports
    span_len=k); the DuckDB oracle and the brute-force property test
    mirror this convention exactly.

    Scale (100 TB): same honest positional explode as
    ``scrub_duplicate_spans`` (the gram build), the gram frequency
    aggregation map-side-combines on the gram key, only DUPLICATED
    occurrences explode into cover positions, and the island merge is
    one shuffle on the doc id with per-doc windows (never global)."""
    from pyspark.sql import Window

    from ..functions import textops as T

    base = df.select(F.col(id_col), T.tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    starts = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = (
        base.where(n > 0)
        .select(
            id_col,
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.struct(
                        s.alias("p"),
                        F.array_join(
                            F.slice(F.col("__toks"), s + 1, k), " "
                        ).alias("g"),
                    ),
                )
            ).alias("__sg"),
        )
        .select(id_col, F.col("__sg.p").alias("__p"),
                F.col("__sg.g").alias("__gram"))
    )
    dup = (
        grams.groupBy("__gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__gram")
    )
    covered = (
        grams.join(dup, "__gram", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__p"), F.col("__p") + F.lit(k - 1))
            ).alias("__cpos"),
        )
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("__cpos")
    islands = covered.withColumn(
        "__island", F.col("__cpos") - F.row_number().over(w)
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("__cpos").cast("long").alias("span_start"),
            F.count(F.lit(1)).cast("long").alias("span_len"),
        )
        .select(id_col, "span_start", "span_len")
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Byte-Pair Encoding merge training (Sennrich et al. 2016) — the
    real tokenizer-training algorithm, distributed.

    BPE trains on the WORD-FREQUENCY table, not the corpus: words
    become space-separated symbol sequences (chars + ``</w>``), and each
    iteration (1) counts adjacent symbol pairs weighted by word
    frequency, (2) picks the most frequent pair (ties broken by pair
    text ascending — deterministic), (3) rewrites every sequence with
    the pair merged, greedy left-to-right non-overlapping via literal
    ``replace`` on a double-spaced form (each symbol owns its flanking
    spaces, so consecutive matches can't steal a shared boundary).

    Output: the merge table ``iteration (int64), left, right, merged,
    pair_count (int64)`` — rows in merge order; fewer than ``n_merges``
    rows when the vocabulary runs out of pairs.

    Scale (100 TB): the corpus is touched ONCE (word counting,
    map-side combinable); every iteration then runs over the
    vocabulary-bounded word table — model-sized, not corpus-sized — and
    collects exactly one (pair, count) row to the driver, the same
    bounded-driver-state shape as the k-means trainer. Sequences
    re-materialize per iteration via localCheckpoint so plan depth
    stays flat.
    """
    from ..functions import textops as T

    spark = df.sparkSession
    words = (
        df.select(F.explode(T.tokens(F.col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__freq"))
    )
    vocab = words.select(
        "__freq",
        F.concat(
            F.array_join(F.split(F.col("__w"), ""), " "),
            F.lit(" </w>"),
        ).alias("__seq"),
    ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        _bpe_merge_loop(vocab, n_merges),
        "iteration long, left string, right string, merged string,"
        " pair_count long",
    )


# Re-materialize the vocabulary every this-many merges: between
# checkpoints the accumulated merges are re-applied inside each pair-count
# job as a constant-shape fold, so this bounds that re-applied depth.
_BPE_CHECKPOINT_EVERY = 16


def _adjacent_pairs(sym: Column) -> Column:
    """Adjacent symbol pairs (``"l r"`` strings) of a symbol array —
    the pair-count kernel both merge trainers share.

    ``textops.adjacent_pairs`` binds ``sym`` once: it carries the
    accumulated merge fold, which must not be evaluated once per
    reference."""
    from ..functions import textops as T

    return T.adjacent_pairs(
        sym, lambda x, y: F.concat_ws(" ", x, y), "array<string>"
    )


def _bpe_merge_loop(vocab: DataFrame, n_merges: int) -> list[tuple]:
    """The shared Sennrich merge loop over a ``__freq, __seq`` vocabulary
    state (word-level and byte-level trainers differ only in how the
    initial symbol sequences are built): per iteration, count adjacent
    symbol pairs weighted by frequency, take the best by (count DESC,
    pair text ASC), rewrite every sequence via the double-spaced literal
    replace. Exactly one (pair, count) row reaches the driver per
    iteration; sequences re-materialize via localCheckpoint so plan depth
    stays flat."""
    merges: list[tuple] = []
    # r12: accumulated merges ride each iteration's pair-count job as a
    # FOLD over a literal (pattern, replacement) array instead of an
    # eager localCheckpoint per merge (2 jobs/iteration -> 1; at real
    # scale that is one model-sized vocabulary materialization job saved
    # PER MERGE). The fold body is one replace per element, so the count
    # plan keeps the IDENTICAL expression shape every iteration — merge
    # strings travel in the codegen references array, and the codegen
    # cache keeps hitting across iterations and train calls (the naive
    # lazy replace chain, which grows the compiled expression per
    # iteration, measured 1.4-3.3x SLOWER — see OPTIMIZATION_r12.md).
    # A checkpoint every _BPE_CHECKPOINT_EVERY merges bounds the
    # re-applied work for large n_merges.
    pats: list[str] = []
    reps: list[str] = []

    def seq_col() -> Column:
        # double-space the sequence so every symbol owns its flanking
        # spaces; literal replace is then greedy non-overlapping with no
        # shared-boundary misses, identically in every engine
        # (_merge_fold's step form).
        return _merge_fold(F.col("__seq"), pats, reps)

    for i in range(n_merges):
        pairs = _adjacent_pairs(F.split(seq_col(), " "))
        best = (
            vocab.select("__freq", F.explode(pairs).alias("__pair"))
            .groupBy("__pair")
            .agg(F.sum("__freq").cast("long").alias("__cnt"))
            .orderBy(F.col("__cnt").desc(), F.col("__pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["__pair"], best[0]["__cnt"]
        left, right = pair.split(" ")
        merged = left + right
        merges.append((i, left, right, merged, cnt))
        pats.append(" " + pair.replace(" ", "  ") + " ")
        reps.append(" " + merged + " ")
        if len(pats) >= _BPE_CHECKPOINT_EVERY:
            vocab = vocab.select(
                "__freq", seq_col().alias("__seq")
            ).localCheckpoint(eager=True)
            pats, reps = [], []
    return merges


def _apply_merges(seq: Column, merges: list[tuple]) -> Column:
    """The whole trained merge list applied to a space-separated symbol
    sequence as ONE constant-shape fold over a literal (pattern,
    replacement) array — per element the double-spaced literal-replace
    step both trainers and both segmenters share, and the step the
    DuckDB oracle replays verbatim (in the same order).

    The fold replaces the old one-chained-expression-per-merge form: a
    production merge list is 30k+ entries, and the chain paid O(merges)
    py4j round-trips, O(merges) expression-tree depth per fresh plan,
    and a fresh codegen compile per merge count — the fold body is a
    few nodes, merge strings travel in the codegen references array,
    and the compiled source is identical for ANY merge list (the
    ``_bpe_merge_loop`` codegen-cache insight, OPTIMIZATION_r12.md §5b).
    """
    pats = [" " + f"{r[1]} {r[2]}".replace(" ", "  ") + " " for r in merges]
    reps = [" " + r[3] + " " for r in merges]
    return _merge_fold(seq, pats, reps)


def _merge_fold(seq: Column, pats: list[str], reps: list[str]) -> Column:
    """Fold a pre-rendered (pattern, replacement) list over ``seq`` —
    the constant-shape kernel shared by ``_apply_merges``, the BPE merge
    loop, and the WordPiece merge loop. Patterns/replacements must
    already carry the double-spaced padding."""
    if not pats:
        return seq
    z = F.arrays_zip(F.lit(pats).alias("p"), F.lit(reps).alias("r"))

    def step(acc: Column, m: Column) -> Column:
        padded = F.concat(
            F.lit(" "),
            F.call_function("replace", acc, F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        replaced = F.call_function("replace", padded, m["p"], m["r"])
        return F.trim(F.regexp_replace(replaced, " +", " "))

    return F.aggregate(z, seq, step)


def bpe_segment(
    df: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merge list (``bpe_train`` rows, in order) to
    segment text into subword pieces.

    Each token becomes its character sequence plus ``</w>``, then every
    merge rewrites it with the same double-spaced literal replace the
    trainer used — so segmentation is exactly the trainer's greedy
    left-to-right semantics. Output: ``<id_col>, n_pieces (int64),
    pieces`` (space-joined subword symbols; word boundaries carry the
    ``</w>`` marker).

    Scale (100 TB): the merge list applies as ONE constant-shape fold
    over a literal (pattern, replacement) array (``_apply_merges``) —
    pure whole-stage codegen, no joins, no state; the only shuffle is
    the per-document reassembly.
    """
    from ..functions import textops as T

    tok = df.select(
        F.col(id_col),
        F.posexplode(T.tokens(F.col(text_col))).alias("__pos", "__w"),
    )
    seq = _apply_merges(
        F.concat(
            F.array_join(F.split(F.col("__w"), ""), " "), F.lit(" </w>")
        ),
        merges,
    )
    pieces = tok.select(id_col, "__pos", seq.alias("__seq"))
    return _reassemble_pieces(df, pieces, id_col)


def _reassemble_pieces(
    df: DataFrame, pieces: DataFrame, id_col: str
) -> DataFrame:
    """Shared segmenter tail: order the per-token piece sequences back
    into document order, space-join, and left-join onto the full id set
    so empty/untokenizable documents come back as ``''`` with 0 pieces."""
    agg = pieces.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seq"))),
                lambda s: s["__seq"],
            ),
            " ",
        ).alias("pieces"),
    )
    base = df.select(F.col(id_col))
    out = base.join(agg, id_col, "left").select(
        id_col, F.coalesce(F.col("pieces"), F.lit("")).alias("pieces")
    )
    return out.select(
        id_col,
        F.when(F.col("pieces") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("pieces"), " ")))
        .cast("long")
        .alias("n_pieces"),
        "pieces",
    )


# ---------------------------------------------------------------------------
# Byte-level BPE — the GPT-2 tokenizer family (Radford et al. 2019),
# the byte encoder modern LLM tokenizers (GPT-2/3, LLaMA via BBPE) ship:
# text is pre-tokenized by a regex, each pre-token becomes its UTF-8
# BYTE sequence remapped through the printable-symbol table, and BPE
# merges train/apply over those byte symbols. Losslessness is structural:
# the pre-tokenizer partitions the string, the byte remap is a bijection
# on all 256 bytes, and merges only concatenate — so decode(encode(x))
# == x for ANY unicode input, no <unk>, no normalization loss.


def _gpt2_byte_symbols() -> str:
    """The GPT-2 ``bytes_to_unicode`` bijection as a 256-char string:
    position ``b`` holds the printable symbol for byte ``b``. Printable
    bytes ('!'..'~', 0xA1..0xAC, 0xAE..0xFF) map to themselves; the rest
    (controls, space, 0x7F, 0xA0, 0xAD) shift to 256+n in byte order.
    The remap exists so byte sequences can be space-joined symbol
    strings: byte 0x20 itself must not render as the separator."""
    keep = (list(range(ord("!"), ord("~") + 1))
            + list(range(0xA1, 0xAC + 1)) + list(range(0xAE, 0x100)))
    table: dict[int, int] = {b: b for b in keep}
    n = 0
    for b in range(256):
        if b not in table:
            table[b] = 256 + n
            n += 1
    return "".join(chr(table[b]) for b in range(256))


#: Shared source of truth for both engines (the DuckDB oracle imports
#: these — same table, same regex, verbatim).
BYTE_BPE_SYMBOLS: str = _gpt2_byte_symbols()

#: GPT-2's pre-tokenizer, restricted to syntax with identical semantics
#: in Java regex (Spark) and RE2 (DuckDB): the contraction alternations
#: (``'s|'t|'re|'ve|'m|'ll|'d``, plain literals, kept verbatim and FIRST
#: as in GPT-2 — both engines are leftmost-first) are in; only the
#: trailing-whitespace lookahead ``\s+(?!\S)`` is dropped (RE2 has no
#: lookaround), so an inner whitespace run keeps ALL its spaces in one
#: pre-token instead of donating the last one to the next word.
#:
#: DECISION (round 11, permanent): the lookahead stays out. The
#: partition property is what the engine's contracts rest on — every
#: char is \s, \p{L}, \p{N}, or other, so the concatenation of
#: pre-tokens is exactly the input and encode->decode losslessness
#: (driver-gated in byte_bpe_roundtrip_docs) holds with or without the
#: lookahead. What the lookahead changes is only WHERE a multi-space
#: run splits, i.e. which merge statistics a trained vocabulary sees —
#: a tokenization-quality preference of GPT-2's corpus, not a
#: correctness property. Emulating it with a post-split step would add
#: a second regex pass over every document on both engines to buy
#: byte-identical GPT-2 token boundaries ONLY for multi-space runs,
#: which the fixture and any cleaned pre-training corpus barely
#: contain. Not worth a hot-path pass; revisit only if a consumer needs
#: drop-in GPT-2 vocabulary compatibility.
#:
#: SQL embedders must double the apostrophes
#: (see oracle/queries.py); backslashes stay verbatim (RE2 raw strings).
BYTE_BPE_PRETOKEN_RE: str = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+")


def byte_pretokens(col: Column | str) -> Column:
    """Pre-token array for byte-level BPE (no lowercasing, no
    normalization — byte-level tokenizers are lossless by contract)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BYTE_BPE_PRETOKEN_RE), 0)


def byte_symbol_seq(col: Column | str) -> Column:
    """A string's UTF-8 bytes as a space-joined remapped-symbol sequence:
    ``hex(encode(s))`` pairs -> byte ints -> 1 char each from the
    ``BYTE_BPE_SYMBOLS`` table. One string literal indexed by substr —
    not a 256-branch CASE or array literal (wide literal trees cost
    Catalyst planning time; CLAUDE.md). Empty input -> empty sequence
    (``sequence(1, 0)`` DESCENDS, so the length is guarded)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.hex(F.encode(c, "UTF-8"))
    nbytes = (F.length(h) / F.lit(2)).cast("int")
    syms = F.transform(
        F.sequence(F.lit(1), nbytes),
        lambda bi: F.substr(
            F.lit(BYTE_BPE_SYMBOLS),
            F.conv(F.substr(h, bi * 2 - 1, F.lit(2)), 16, 10).cast("int")
            + F.lit(1),
            F.lit(1),
        ),
    )
    return F.when(nbytes >= 1, F.array_join(syms, " ")).otherwise(F.lit(""))


def byte_bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Byte-level BPE merge training: pre-token frequency table (one
    corpus scan, map-side combinable), sequences are remapped UTF-8 byte
    symbols with NO ``</w>`` marker (word boundaries live in the leading
    space the pre-tokenizer attaches to the next token, GPT-2 style),
    then the same deterministic Sennrich merge loop as ``bpe_train`` —
    vocabulary-bounded iterations, one (pair, count) row to the driver
    each. Output: ``iteration long, left, right, merged, pair_count``.

    Scale (100 TB): identical shape to ``bpe_train`` — the corpus is
    touched once; every iteration runs over the model-sized pre-token
    table. The byte alphabet caps the initial symbol set at 256, so the
    pair space per iteration is bounded by (vocab growth)^2, never by
    corpus size."""
    spark = df.sparkSession
    words = (
        df.select(
            F.explode(byte_pretokens(F.col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__freq"))
    )
    vocab = words.select(
        "__freq", byte_symbol_seq(F.col("__w")).alias("__seq")
    ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        _bpe_merge_loop(vocab, n_merges),
        "iteration long, left string, right string, merged string,"
        " pair_count long",
    )


def byte_bpe_segment(
    df: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply trained byte-level merges (``byte_bpe_train`` rows, in
    order): each pre-token becomes its byte-symbol sequence, every merge
    rewrites it with the shared double-spaced literal replace, and the
    per-document pieces reassemble in document order. Output:
    ``<id_col>, n_pieces long, pieces`` (space-joined byte-level
    symbols). ``byte_bpe_decode`` inverts it exactly.

    Scale: the merge list applies as one constant-shape fold per
    pre-token (``_apply_merges``) — pure whole-stage codegen, no joins;
    one per-document reassembly shuffle."""
    tok = df.select(
        F.col(id_col),
        F.posexplode(byte_pretokens(F.col(text_col))).alias(
            "__pos", "__w"),
    )
    seq = _apply_merges(byte_symbol_seq(F.col("__w")), merges)
    pieces = tok.select(id_col, "__pos", seq.alias("__seq"))
    return _reassemble_pieces(df, pieces, id_col)


def byte_bpe_decode(
    df: DataFrame,
    pieces_col: str = "pieces",
    id_col: str = "doc_id",
    out_col: str = "text",
) -> DataFrame:
    """Invert ``byte_bpe_segment``: symbols never contain a literal
    space (the remap's whole purpose), so drop separators, reverse-map
    every char to its byte via its position in ``BYTE_BPE_SYMBOLS``, and
    UTF-8-decode the byte string. Pure column algebra; the lossless
    round-trip ``decode(segment(x)) == x`` is the tokenizer's contract
    and is property-tested over arbitrary unicode."""
    joined = F.call_function(
        "replace", F.col(pieces_col), F.lit(" "), F.lit(""))
    chars = F.filter(F.split(joined, ""), lambda ch: ch != F.lit(""))
    hexpairs = F.transform(
        chars,
        lambda ch: F.lpad(
            F.conv(
                (F.call_function("instr", F.lit(BYTE_BPE_SYMBOLS), ch)
                 - F.lit(1)).cast("string"),
                10, 16,
            ),
            2, "0",
        ),
    )
    return df.select(
        F.col(id_col),
        F.decode(F.unhex(F.array_join(hexpairs, "")), "UTF-8")
        .alias(out_col),
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_freq: int = 1,
    max_size: int | None = None,
    cache_owner: list | None = None,
) -> DataFrame:
    """Corpus vocabulary with stable contiguous ids: tokens ranked by
    (frequency DESC, token ASC) — the deterministic id assignment step of
    tokenizer/embedding-table construction.
    Output: ``token, token_id (0-based long), n_occurrences``.

    Scale: the frequency aggregation is map-side combinable over the
    corpus; distinct-token cardinality grows with corpus size (Heaps'
    law), so the id assignment must NOT rank the whole vocabulary
    through one window task. With ``max_size`` set, a
    TakeOrderedAndProject ``limit`` bounds the table first (per-task
    heaps, one model-sized merge); the contiguous ids then come from
    ``stats.global_ranks`` — the two-pass distributed prefix rank
    (range-repartition, rank within partitions, one row-per-partition
    collect, broadcast re-base) — under the total order
    ``(-n_occurrences, token)``, bit-identical to the naive global
    window. Same ``cache_owner`` contract as ``global_ranks`` (the
    range layout is correctness-bearing and stays pinned)."""
    from ..functions import textops as T
    from .stats import global_ranks

    freq = (
        df.select(F.explode(T.tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_freq)
    )
    if max_size is not None:
        freq = freq.orderBy(
            F.col("n_occurrences").desc(), F.col("token").asc()
        ).limit(max_size)
    ranked, _ = global_ranks(
        freq.withColumn("__negf", -F.col("n_occurrences")),
        "__negf", "token", cache_owner=cache_owner,
    )
    return ranked.select(
        "token",
        F.col("__rank").cast("long").alias("token_id"),
        (-F.col("__negf")).cast("long").alias("n_occurrences"),
    )


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = -1,
) -> DataFrame:
    """Encode each document as its token-id sequence against ``vocab``
    (out-of-vocabulary tokens map to ``oov_id``). Ids are emitted as a
    space-joined string so the value hash is engine-neutral (the repo's
    scalar-output convention). Output: ``<id_col>, n_tokens, ids_csv``;
    zero-token documents keep a row with ``n_tokens 0`` and empty csv.

    Plan: positional explode -> broadcast join on the (model-sized) vocab
    -> one per-document aggregation with an in-row positional sort. The
    corpus shuffles once, on ``id_col``."""
    from ..functions import textops as T

    toks = T.tokens(F.col(text_col))
    exploded = df.select(
        F.col(id_col), F.posexplode(toks).alias("__pos", "token")
    )
    tagged = exploded.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    ).select(
        id_col, "__pos",
        F.coalesce(F.col("token_id"), F.lit(oov_id)).alias("__tid"),
    )
    encoded = (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__tid"))
                    ),
                    lambda s: s["__tid"].cast("string"),
                ),
                " ",
            ).alias("ids_csv"),
        )
    )
    base = df.select(F.col(id_col))
    return base.join(encoded, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("ids_csv"), F.lit("")).alias("ids_csv"),
    )


# Normalization rewrite chain, shared by the Spark and oracle builders
# (the scrub_pii pattern): identical regex text on both engines — Java
# regex and RE2 agree on these escapes, and DuckDB standard strings pass
# backslashes to RE2 verbatim, so the patterns embed unchanged.
NORMALIZE_STEPS: list[tuple[str, str]] = [
    (r"[\x00-\x08\x0b-\x1f\x7f]", ""),  # control chars (\n and \t survive)
    (r"\t", " "),                        # tabs become spaces
    (r" {2,}", " "),                     # collapse space runs
    (r" ?\n ?", "\n"),                   # spaces hugging a newline drop
    (r"\n{3,}", "\n\n"),                 # >2 blank lines collapse to one
]


def normalize_text(text: Column | str) -> Column:
    """Canonical whitespace/control cleanup for corpus text — the
    standard pre-tokenization normalization pass. Steps (in order):
    strip ASCII control characters except newline and tab, tabs to
    spaces, collapse space runs, drop spaces hugging newlines, collapse
    3+ newlines to a paragraph break, then trim outer spaces/newlines.
    Pure regexp_replace chain: map-only, whole-stage codegen, fuses
    into the corpus scan at any scale."""
    c = F.col(text) if isinstance(text, str) else text
    for pattern, repl in NORMALIZE_STEPS:
        c = F.regexp_replace(c, pattern, repl)
    return F.btrim(c, F.lit(" \n"))


def normalize_text_sql(expr: str) -> str:
    """The identical rewrite chain as DuckDB SQL (the oracle side)."""
    out = expr
    for pattern, repl in NORMALIZE_STEPS:
        out = (f"regexp_replace({out}, "
               f"'{pattern.replace(chr(39), chr(39) * 2)}', '{repl}', 'g')")
    return f"trim({out}, ' ' || chr(10))"


# HTML -> text extraction chain (the trafilatura/boilerplate-strip
# stage every web-crawl corpus runs between WARC ingest and
# normalization), shared verbatim with the oracle like NORMALIZE_STEPS.
# Order is load-bearing: script/style/comment BLOCKS drop with their
# content first (a tag-stripper alone would leak javascript into the
# corpus), block-level closers become newlines so paragraph structure
# survives, THEN remaining tags strip; entities decode after tags are
# gone (so '&lt;p&gt;' in prose cannot resurrect as a tag), with
# '&amp;' decoded LAST — single-pass decode semantics, '&amp;lt;'
# yields the literal '&lt;' not '<'.
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)<(?:br|hr)\s*/?>", "\n"),
    (r"(?i)</(?:p|div|h[1-6]|li|tr|ul|ol|table|blockquote|section|article"
     r"|header|footer|pre|title)\s*>", "\n"),
    (r"(?s)<[^>]*>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#0*39;", "'"),
    (r"&apos;", "'"),
    (r"&amp;", "&"),
]


def extract_html_text(html: Column | str) -> Column:
    """Visible text of an HTML document as one native regexp_replace
    chain (map-only, whole-stage codegen, fuses into the WARC/scan
    stage) — see ``HTML_STRIP_STEPS`` for the order rationale. The
    output runs through ``normalize_text`` so downstream operators see
    the same canonical whitespace the rest of the corpus has."""
    c = F.col(html) if isinstance(html, str) else html
    for pattern, repl in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pattern, repl)
    return normalize_text(c)


def extract_html_text_sql(expr: str) -> str:
    """The identical extraction chain as DuckDB SQL (the oracle side)."""
    out = expr
    for pattern, repl in HTML_STRIP_STEPS:
        p = pattern.replace("'", "''")
        r = repl.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return normalize_text_sql(out)


#: shared by both engines: <title> body (group 1) and anchor-with-href
#: detection for the link census.
HTML_TITLE_PATTERN = r"(?is)<title[^>]*>(.*?)</title"
HTML_LINK_PATTERN = r"(?i)<a\s[^>]*href"


#: Synthesized-page template for the driver gate (`html_extract_docs`):
#: both engines wrap the documents fixture in the SAME page skeleton —
#: literal segments interleaved with (doc_id, lang, text, source,
#: doc_id) — then run the SAME extraction chain, so the oracle verifies
#: script/style/comment dropping, block structure, entity decode
#: (incl. the single-pass '&amp;copy;' -> '&copy;' case), and the link
#: census on every fixture row. One source of truth, per house rule.
HTML_DEMO_SEGMENTS: tuple[str, ...] = (
    "<html><head><title>Doc ",
    "</title><style>p {color: red}</style></head><body>"
    "<!-- generated --><h1>",
    "</h1>\n<p>",
    "</p><script>var x = 1 < 2;</script><p>&amp;copy; &lt;",
    "&gt;&nbsp;</p><a href=\"http://x/",
    "\">link</a><a name=nolink></a></body></html>",
)


def html_extract_documents(
    df: "DataFrame", html_col: str = "html", id_col: str = "doc_id"
) -> "DataFrame":
    """Per-document web extraction report: title, visible text, and an
    exact link census — the ingest projection a crawl pipeline runs
    straight off ``sources/warc.read_warc`` payloads. Map-only native
    expressions; no Python anywhere."""
    html = F.col(html_col)
    return df.select(
        F.col(id_col),
        F.regexp_extract(html, HTML_TITLE_PATTERN, 1).alias("title"),
        extract_html_text(html).alias("text"),
        F.size(F.regexp_extract_all(html, F.lit(HTML_LINK_PATTERN), 0))
        .cast("long").alias("n_links"),
    )


def normalize_documents(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """Per-document normalization report: the cleaned text plus exact
    integer accounting (chars removed, changed flag) so a pipeline can
    quantify how dirty a source is in the same pass that cleans it."""
    norm = normalize_text(F.col(text_col))
    return df.select(
        F.col(id_col),
        norm.alias(text_col),
        (F.length(F.col(text_col)) - F.length(norm)).cast("long")
        .alias("n_chars_removed"),
        (F.col(text_col) != norm).alias("changed"),
    )


def cdc_chunks(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    divisor: int = 64,
    max_len: int = 512,
) -> "DataFrame":
    """Content-defined chunking (the rsync/FastCDC public design,
    recompiled to column algebra): a chunk boundary falls after position
    ``p`` when the salted hash of the ``window``-gram ending at ``p``
    satisfies ``hash % divisor == 0`` — so boundaries are functions of
    CONTENT, not offsets, and inserting text early in a document leaves
    every later chunk identical (the shift-robustness fixed-window
    chunking lacks; pinned by test). Expected chunk length ~``divisor``
    chars; ``max_len`` force-splits pathological boundary deserts so no
    chunk exceeds it. Empty documents yield zero chunks.

    Output: ``doc id, chunk_idx (1-based), chunk_text, chunk_len``.

    Scale: one salted hash per character position — the same cost shape
    as the MinHash shingle pass (the corpus's one expensive scan) — then
    pure array algebra; map-only, no shuffle, no Python. The chunk
    stream feeds exact dedup (`dedup.exact_duplicates` on chunk_text)
    for shift-robust sub-document dedup at 100 TB.
    """
    from ..functions import textops as T

    t = F.col(text_col)
    n = F.length(t)
    w, D, M = window, divisor, max_len
    idx = F.when(n >= w, F.sequence(F.lit(1), n - (w - 1))).otherwise(
        F.array().cast("array<int>")
    )
    boundaries = F.transform(
        F.filter(
            idx,
            lambda p: T.salted_hash(t.substr(p, F.lit(w)), "_cdc")
            % F.lit(D) == 0,
        ),
        lambda p: p + (w - 1),
    )
    cuts = F.array_sort(F.array_distinct(F.concat(
        F.array(F.lit(0)), boundaries, F.array(n)
    )))
    spans = F.flatten(F.zip_with(
        F.slice(cuts, 1, F.size(cuts) - 1),
        F.slice(cuts, 2, F.size(cuts) - 1),
        lambda a, b: F.transform(
            F.sequence(a, b - 1, F.lit(M)),
            lambda s: F.struct(
                s.alias("st"), F.least(s + M, b).alias("en")
            ),
        ),
    ))
    from .dedup import ensure_parallelism

    return (
        ensure_parallelism(df)
        .select(F.col(id_col), t.alias("__t"),
                F.posexplode(spans).alias("__pos", "__sp"))
        .select(
            id_col,
            (F.col("__pos") + 1).cast("long").alias("chunk_idx"),
            F.col("__t").substr(
                F.col("__sp.st") + 1, F.col("__sp.en") - F.col("__sp.st")
            ).alias("chunk_text"),
            (F.col("__sp.en") - F.col("__sp.st")).cast("long")
            .alias("chunk_len"),
        )
    )


# -- unigram-LM tokenizer (SentencePiece-style) ------------------------------

#: Viterbi cost constants shared with the DuckDB oracle: an unknown
#: single character costs ``bits(total) + _UNI_OOV_EXTRA`` (usable, so
#: every word segments); an unknown multi-char piece is forbidden.
_UNI_OOV_EXTRA = 8
_UNI_FORBIDDEN = 1 << 40


def _unigram_viterbi(w: Column, costs: dict[str, int], big: int,
                     max_piece_len: int) -> Column:
    """Best segmentation of ``w`` under the (piece -> integer-bit cost)
    model as ONE native fold: ``aggregate`` over character positions
    builds the DP table ``best[0..n]`` as a growing array of
    ``struct(c, np, s)`` — total cost, piece count, the segmentation
    itself — and ``array_min`` picks each position's winner under the
    deterministic (cost, n_pieces, segmentation) total order. The cost
    model embeds as one constant-folded map literal (vocabulary is
    bounded); plan size is constant in word length and vocab size."""
    cost_map = F.create_map(
        *[x for k in sorted(costs)
          for x in (F.lit(k), F.lit(int(costs[k])))]
    )

    def lookup(p: Column) -> Column:
        fallback = F.when(F.length(p) == 1, F.lit(big)) \
            .otherwise(F.lit(_UNI_FORBIDDEN))
        return F.coalesce(F.element_at(cost_map, p), fallback).cast("long")

    n = F.length(w)
    init = F.array(F.struct(
        F.lit(0).cast("long").alias("c"), F.lit(0).alias("np"),
        F.lit("").alias("s"),
    ))

    def step(acc: Column, i: Column) -> Column:
        def cand(j: Column) -> Column:
            piece = F.substring(w, j, i - j + 1)
            prev = F.element_at(acc, j)
            return F.struct(
                (prev["c"] + lookup(piece)).alias("c"),
                (prev["np"] + F.lit(1)).alias("np"),
                F.concat(prev["s"], F.lit(" "), piece).alias("s"),
            )

        cands = F.transform(
            F.sequence(F.greatest(F.lit(1), i - max_piece_len + 1), i), cand)
        return F.concat(acc, F.array(F.array_min(cands)))

    best = F.aggregate(F.sequence(F.lit(1), n), init, step)
    return F.ltrim(F.element_at(best, n + 1)["s"])


def _bits_py(n: int) -> int:
    return n.bit_length()


def unigram_train(
    df: "DataFrame",
    n_multi: int = 120,
    n_iters: int = 2,
    max_piece_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Unigram-LM tokenizer training (the SentencePiece unigram model,
    Kudo 2018), distributed, with hard-EM (Viterbi) re-estimation and
    the repo's exact integer-bit scoring instead of float logprobs:

    1. one corpus scan builds the word-frequency table;
    2. the SEED vocabulary is every single character plus the
       ``n_multi`` most frequent substrings of length 2..``max_piece_len``
       (count DESC, piece ASC — deterministic), counts weighted by word
       frequency and occurrence multiplicity;
    3. each EM iteration Viterbi-segments the WORD TABLE (model-sized,
       never the corpus) under ``cost(piece) = bits(total) -
       bits(count)`` (the doc_surprisal integer-log rule), re-counts
       pieces from the segmentations, drops unused multi-char pieces,
       and rescores — single characters never drop (coverage; a
       zero-count char costs the full ``bits(total)``).

    Output: ``piece, count (int64), cost_bits (int64), rank (int64)``
    ordered by (count DESC, piece ASC). Exactly reproducible: every
    quantity is an integer and every tie-break lexicographic.

    Scale (100 TB): the corpus is touched once (combinable word
    count); all EM work is per DISTINCT WORD with one bounded
    vocabulary collect per iteration (the BPE/k-means driver-state
    shape). The Viterbi fold is constant-size per plan — the cost
    model rides one constant-folded map literal.
    """
    from ..functions import textops as T

    spark = df.sparkSession
    words = (
        df.select(F.explode(T.tokens(F.col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__freq"))
        .localCheckpoint(eager=True)
    )
    w, n = F.col("__w"), F.length(F.col("__w"))
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.transform(
            F.sequence(i, F.least(i + max_piece_len - 1, n)),
            lambda j: F.substring(w, i, j - i + 1),
        ),
    ))
    cand = (
        words.select("__freq", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("__freq").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    singles = {r["piece"]: r["cnt"]
               for r in cand.where(F.length("piece") == 1).collect()}
    multis = {r["piece"]: r["cnt"] for r in (
        cand.where(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(n_multi).collect()
    )}
    counts = {**singles, **multis}

    def costs_of(counts: dict[str, int]) -> tuple[dict[str, int], int]:
        total = sum(counts.values())
        tb = _bits_py(total)
        return (
            {p: (tb - _bits_py(c)) if c >= 1 else tb
             for p, c in counts.items()},
            tb + _UNI_OOV_EXTRA,
        )

    for _ in range(n_iters):
        costs, big = costs_of(counts)
        seg = words.select(
            "__freq",
            _unigram_viterbi(w, costs, big, max_piece_len).alias("__seg"),
        )
        used = {r["piece"]: r["cnt"] for r in (
            seg.select("__freq", F.explode(F.split("__seg", " "))
                       .alias("piece"))
            .groupBy("piece")
            .agg(F.sum("__freq").cast("long").alias("cnt"))
            .collect()
        )}
        counts = {**{p: used.get(p, 0) for p in singles},
                  **{p: c for p, c in used.items() if len(p) > 1}}

    costs, _ = costs_of(counts)
    rows = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))
    return spark.createDataFrame(
        [(p, c, costs[p], i + 1) for i, (p, c) in enumerate(rows)],
        "piece string, count long, cost_bits long, rank long",
    )


def unigram_segment(
    df: "DataFrame",
    vocab: list[tuple],
    max_piece_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Segment documents with a trained unigram model (``unigram_train``
    rows): Viterbi per DISTINCT token word under the model's
    integer-bit costs, joined back onto the positional token explode
    and reassembled in order — output ``<id_col>, n_pieces (int64),
    pieces`` (space-joined), the ``bpe_segment`` contract.

    Scale: the DP runs once per distinct word (vocabulary-bounded),
    not per token occurrence; the join back is the only shuffle beyond
    reassembly."""
    from ..functions import textops as T

    counts = {r[0]: int(r[1]) for r in vocab}
    costs = {r[0]: int(r[2]) for r in vocab}
    big = _bits_py(sum(counts.values())) + _UNI_OOV_EXTRA

    tok = df.select(
        F.col(id_col),
        F.posexplode(T.tokens(F.col(text_col))).alias("__pos", "__w"),
    )
    segw = (
        tok.select("__w").distinct()
        .select(
            "__w",
            _unigram_viterbi(F.col("__w"), costs, big, max_piece_len)
            .alias("__seg"),
        )
    )
    pieces = tok.join(segw, "__w")
    agg = pieces.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda s: s["__seg"],
            ),
            " ",
        ).alias("pieces"),
    )
    base = df.select(F.col(id_col))
    out = base.join(agg, id_col, "left").select(
        id_col, F.coalesce(F.col("pieces"), F.lit("")).alias("pieces")
    )
    return out.select(
        id_col,
        F.when(F.col("pieces") == "", F.lit(0).cast("long"))
        .otherwise(F.size(F.split(F.col("pieces"), " ")).cast("long"))
        .alias("n_pieces"),
        "pieces",
    )


def wordpiece_train(
    df: "DataFrame",
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """WordPiece merge training (Schuster & Nakajima 2012; the BERT
    tokenizer) — the third classical subword algorithm next to
    ``bpe_train`` and ``unigram_train``: the same merge loop as BPE, but
    each iteration merges the pair maximizing the LIKELIHOOD score
    ``count(pair) / (count(left) * count(right))`` instead of the raw
    pair count.

    The score is compared in exact integer bits —
    ``score_bits = bits(pair) - bits(left) - bits(right)`` (the
    doc_surprisal rule: each term within one bit of log2, identical in
    both engines) — with the pair text as tie-break, so training is
    deterministic and fully oracle-mirrorable. The merge REWRITE is
    byte-identical to BPE's double-spaced literal replace, which means a
    trained WordPiece merge table segments text through the existing
    ``bpe_segment`` unchanged.

    Output: ``iteration (int64), left, right, merged, pair_count
    (int64), score_bits (int64)`` — rows in merge order.

    Scale: identical to ``bpe_train`` — one corpus scan into the
    word-frequency table, then model-sized iterations over the
    vocabulary with a single-row collect each; the extra symbol-count
    table is vocabulary-bounded.
    """
    from ..functions import textops as T

    spark = df.sparkSession
    words = (
        df.select(F.explode(T.tokens(F.col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__freq"))
    )
    vocab = words.select(
        "__freq",
        F.concat(
            F.array_join(F.split(F.col("__w"), ""), " "),
            F.lit(" </w>"),
        ).alias("__seq"),
    ).localCheckpoint(eager=True)

    def bits(c):
        return F.length(F.call_function("bin", c)).cast("long")

    # Same lazy accumulated-merge fold as _bpe_merge_loop (and same
    # rationale, OPTIMIZATION_r12.md §5b): the per-merge eager
    # localCheckpoint job is gone — accumulated merges re-apply inside
    # the count jobs as a constant-shape _merge_fold, re-materializing
    # only every _BPE_CHECKPOINT_EVERY merges.
    merges: list[tuple] = []
    pats: list[str] = []
    reps: list[str] = []
    for i in range(n_merges):
        # ONE tagged explode per iteration (r13, VERDICT r12 #6): the
        # old two-explode form evaluated the accumulated merge fold
        # SEVEN times per word per iteration — 5x inside the
        # pair-building expression (the _adjacent_pairs disease) plus
        # once per symbol-count join branch. Symbols and pairs share
        # one explode+aggregate pass — a pair key carries a space, a
        # symbol never does, so the combined count table splits back
        # losslessly — and the checkpointed result (model-sized:
        # distinct symbols + distinct pairs) feeds the three scoring
        # references without re-running the fold.
        sym = F.split(_merge_fold(F.col("__seq"), pats, reps), " ")
        combined = F.transform(
            F.array(sym),
            lambda s: F.concat(
                s,
                F.when(
                    F.size(s) >= 2,
                    F.zip_with(
                        F.slice(s, 1, F.size(s) - 1),
                        F.slice(s, 2, F.size(s) - 1),
                        lambda x, y: F.concat_ws(" ", x, y),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            ),
        )[0]
        cnts = (
            vocab.select("__freq", F.explode(combined).alias("__k"))
            .groupBy("__k")
            .agg(F.sum("__freq").cast("long").alias("__kcnt"))
            .localCheckpoint(eager=True)
        )
        sym_counts = cnts.where(~F.col("__k").contains(" ")).select(
            F.col("__k").alias("__s"), F.col("__kcnt").alias("__scnt")
        )
        pair_counts = cnts.where(F.col("__k").contains(" ")).select(
            F.col("__k").alias("__pair"), F.col("__kcnt").alias("__cnt")
        )
        scored = (
            pair_counts
            .join(
                sym_counts.select(F.col("__s").alias("__l"),
                                  F.col("__scnt").alias("__lcnt")),
                F.split(F.col("__pair"), " ")[0] == F.col("__l"),
            )
            .join(
                sym_counts.select(F.col("__s").alias("__r"),
                                  F.col("__scnt").alias("__rcnt")),
                F.split(F.col("__pair"), " ")[1] == F.col("__r"),
            )
            .select(
                "__pair", "__cnt",
                (bits(F.col("__cnt")) - bits(F.col("__lcnt"))
                 - bits(F.col("__rcnt"))).cast("long").alias("__score"),
            )
        )
        best = (
            scored.orderBy(F.col("__score").desc(), F.col("__pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt, score = (best[0]["__pair"], best[0]["__cnt"],
                            best[0]["__score"])
        left, right = pair.split(" ")
        merges.append((i, left, right, left + right, cnt, score))
        pats.append(" " + pair.replace(" ", "  ") + " ")
        reps.append(" " + left + right + " ")
        if len(pats) >= _BPE_CHECKPOINT_EVERY:
            vocab = vocab.select(
                "__freq",
                _merge_fold(F.col("__seq"), pats, reps).alias("__seq"),
            ).localCheckpoint(eager=True)
            pats, reps = [], []
    return spark.createDataFrame(
        merges,
        "iteration long, left string, right string, merged string,"
        " pair_count long, score_bits long",
    )


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal (Wenzek et al. 2020,
    arXiv:1911.00359): rewrite each document with every LINE that occurs
    in at least ``min_docs`` distinct documents removed — the standard
    web-corpus pass that strips navigation bars, cookie banners, and
    copyright footers which repeat across pages while the prose does
    not. Complements ``scrub_duplicate_spans`` (token-gram spans WITHIN
    lines) at the coarser line granularity where web boilerplate
    actually lives.

    Lines shuffle by ``stable_hash(line)`` — constant row width into the
    frequency aggregation regardless of line length, and the aggregation
    map-side-combines on the hash key. Only the duplicated hash set (the
    small side in a healthy corpus) joins back; the rebuild is one
    shuffle on the doc id with an in-row positional sort, exactly the
    ``scrub_duplicate_spans`` reassembly shape. Empty documents and
    documents whose every line was boilerplate come back with
    ``clean_text = ''``.

    Output: ``<id_col>, n_lines, n_removed (int64), clean_text``.
    """
    from ..functions.hashing import stable_hash

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__lh", stable_hash(F.col("__line")))
    dup = (
        lines.groupBy("__lh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__lh", F.lit(1).alias("__dup"))
    )
    marked = lines.join(dup, "__lh", "left")
    kept = F.when(
        F.col("__dup").isNull(), F.struct(F.col("__pos").alias("p"),
                                          F.col("__line").alias("ln"))
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("__dup").isNotNull().cast("long"))
            .cast("long").alias("n_removed"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)),
                            lambda s: s["ln"]),
                "\n",
            ).alias("clean_text"),
        )
    )


def decode_documents(
    encoded: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    ids_col: str = "ids_csv",
    oov_token: str = "<unk>",
) -> DataFrame:
    """Inverse of ``encode_documents``: token-id sequences back to the
    space-joined token stream, ids missing from ``vocab`` (the OOV
    sentinel included) rendered as ``oov_token``. Round-trip contract:
    ``decode(encode(doc))`` equals the document's normalized token
    stream exactly when every token is in-vocabulary — the bijectivity
    certification a tokenizer deployment runs before training (id
    tables and text must stay inverses across vocab releases).

    Plan mirrors encode: positional explode of the id string ->
    broadcast join on the model-sized vocab -> one per-document
    aggregation with an in-row positional sort. Zero-token documents
    keep a row with ``decoded_text = ''``.
    Output: ``<id_col>, decoded_text``.
    """
    exploded = encoded.where(F.length(F.col(ids_col)) > 0).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(ids_col), " ")).alias("__pos", "__tid"),
    )
    joined = exploded.join(
        F.broadcast(
            vocab.select(F.col("token_id").cast("string").alias("__tid"),
                         "token")
        ),
        "__tid", "left",
    ).select(
        id_col, "__pos",
        F.coalesce(F.col("token"), F.lit(oov_token)).alias("__tok"),
    )
    dec = joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    F.col("__pos").alias("p"), F.col("__tok").alias("tk")
                ))),
                lambda s: s["tk"],
            ),
            " ",
        ).alias("decoded_text")
    )
    return encoded.select(id_col).join(dec, id_col, "left").select(
        id_col,
        F.coalesce(F.col("decoded_text"), F.lit("")).alias("decoded_text"),
    )
