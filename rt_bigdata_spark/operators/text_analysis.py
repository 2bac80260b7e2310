"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, fingerprinting.

Beyond-reference operators (build plan SURVEY.md §7.2 step 9) for the
100 TB document-processing story. Everything is built-in column
expressions — fully vectorized JVM-side, no Python in the hot path.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from rt_bigdata_spark.functions.text_fns import tokenize
from rt_bigdata_spark.operators.scale import ensure_parallelism

# Tiny per-language stopword lists for the n-gram/stopword-vote language
# heuristic. Order matters: ties break toward the earlier language.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "de", "y"),
    "de": ("der", "die", "und", "das", "ein"),
    "zh": ("的", "是", "在", "了", "和"),
}


def token_count(text: Column) -> Column:
    return F.size(tokenize(text))


def stopword_hits(text: Column, stopwords: Sequence[str]) -> Column:
    toks = tokenize(text)
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def tok_bound(toks: Column, per_toks) -> Column:
    """Evaluate ``per_toks(t)`` with ``t`` bound ONCE to ``toks``.

    Catalyst's CollapseProject + PushDownPredicates freely inline a
    projected alias into every consumer — measured 61 copies of the
    tokenize regex in the optimized doc_curation plan when features were
    built as plain aliased columns. A higher-order-function lambda
    variable is a real evaluation barrier: ``transform(array(toks),
    t -> expr(t))[1]`` evaluates ``toks`` exactly once however many
    times the lambda body references ``t``. Each downstream reference to
    the RESULT still duplicates the whole expression, so callers should
    reference the returned column as few times as possible (e.g. return
    one struct and extract fields, ~1 copy per extracted field).
    """
    return F.element_at(F.transform(F.array(toks), per_toks), 1)


def stopword_hit_count(t: Column, words: Sequence[str]) -> Column:
    """Hits of ``words`` in token array ``t`` — one array pass.
    ``F.lit(list)`` builds a single array literal node (per-element
    ``F.lit`` bloats planning/codegen time at LSH-plane scales)."""
    return F.size(F.filter(t, lambda x: F.array_contains(F.lit(list(words)), x)))


def quality_features(df: DataFrame, text_col: str = "text", toks_col: str | None = None) -> DataFrame:
    """Per-doc quality features: token count, avg token length, stopword
    ratio, punctuation ratio — the standard cheap quality filters a
    pretraining pipeline applies before expensive steps.

    Tokenization is bound once per output column via ``tok_bound``;
    ``toks_col`` reuses an existing tokenized column (kept, not
    dropped) instead of re-tokenizing.

    NULL text ≡ '' (repo convention, r12): 0 tokens and NULL ratios on
    both engines — un-coalesced, Spark's size-of-null (-1) turned the
    stopword ratio into -1/-1 = 1.0 for NULL docs (a garbage quality
    signal, caught by tests/test_null_text_parity.py).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.col(toks_col) if toks_col is not None else tokenize(text)
    if toks_col is None:
        df = ensure_parallelism(df)

    q = tok_bound(
        toks,
        lambda t: F.struct(
            F.size(t).cast("long").alias("n_tokens"),
            (
                F.aggregate(F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x).cast("double")
                / F.size(t)
            ).alias("avg_token_len"),
            (stopword_hit_count(t, LANG_STOPWORDS["en"]).cast("double") / F.size(t)).alias("stopword_ratio"),
        ),
    )
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[\p{P}]", ""))
    return df.withColumns(
        {
            "n_tokens": q["n_tokens"],
            "avg_token_len": q["avg_token_len"],
            "stopword_ratio": q["stopword_ratio"],
            "punct_ratio": (n_punct.cast("double") / F.length(text)),
        }
    )


def lang_vote(t: Column, stopwords: Mapping[str, Sequence[str]]) -> Column:
    """Argmax of per-language stopword hits over token array ``t``
    (earlier language wins ties, 'und' if zero hits everywhere). The
    when-chain references each hit count up to twice — each is an array
    pass over the bound ``t``, never a re-tokenize."""
    best: Column = F.lit("und")
    best_hits: Column = F.lit(0)
    for lang, words in stopwords.items():  # earlier language wins ties → strict >
        hits = stopword_hit_count(t, words)
        is_better = hits > best_hits
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best


def language_id(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Mapping[str, Sequence[str]] | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """Stopword-vote language ID: count hits per language list, take the
    argmax (first language wins ties, 'und' if zero hits everywhere).

    The whole vote evaluates inside one ``tok_bound`` lambda, so
    ``lang_pred`` contains exactly ONE tokenize however often Catalyst
    inlines it downstream (filters on lang_pred are the common case).
    ``toks_col`` reuses an existing tokenized column instead.
    """
    stopwords = stopwords or LANG_STOPWORDS
    toks = F.col(toks_col) if toks_col is not None else tokenize(F.col(text_col))
    if toks_col is None:
        df = ensure_parallelism(df)
    return df.withColumn("lang_pred", tok_bound(toks, lambda t: lang_vote(t, stopwords)))


def unigram_surprisal(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Perplexity-style quality score: average −ln p(token) per doc
    under the corpus's own unigram distribution (the cheap stand-in
    for LM-perplexity filtering in pretraining pipelines — outlier
    docs score high because their tokens are corpus-rare).

    Two aggregations over the exploded token stream: corpus term
    frequencies, then per-doc averages of the joined log-probs. At
    100 TB the frequency table is vocab-sized — prune it with a
    min-count threshold and broadcast it so the scoring join adds no
    fact-side shuffle; here it stays a plain shuffle join for exact
    oracle parity. The grand total rides along via a single-row
    broadcast cross join (never `collect` into the driver plan).
    """
    toks = df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").alias("n"))
    scored = toks.join(tf, "tok").crossJoin(F.broadcast(total))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("tf") / F.col("n"))), 6).alias("surprisal"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 over the token-normalized text
    (whitespace/punct-insensitive), the cheap exact-dup key."""
    normalized = F.concat_ws(" ", tokenize(F.col(text_col)))
    return df.withColumn(out_col, F.md5(normalized))


# GPT-2-style pretokenizer shape (contraction suffixes, space-prefixed
# letter runs / digit runs / punctuation runs) restricted to a subset
# that Java regex, RE2 (DuckDB), and Python re interpret identically —
# the whitespace class is spelled out because `\s` is ASCII-only in
# Java/RE2 but Unicode in Python (NEL/\x85 etc. would diverge). The
# point is a BPE-grade token COUNT for data budgeting, not a specific
# vocabulary.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \t\n\x0b\f\r']+"

_ROLLING_PRIME = 2147483647  # 2^31 - 1; keeps acc*131 + c < 2^63
_ROLLING_BASE = 131


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pretokens (long). One vectorized regex pass —
    ``regexp_extract_all`` runs JVM-side; no Python, no shuffle."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def rolling_hash(text: Column) -> Column:
    """Rabin-Karp polynomial rolling hash over the text's codepoints
    (long, < 2^31): h = fold(h·131 + codepoint mod 2³¹−1).

    Pure arithmetic — unlike md5-based fingerprints it supports O(1)
    incremental update when a document is extended, and it is
    reproducible in any engine (the DuckDB oracle computes the identical
    fold), which md5_number-style helpers are not (byte-order differs).
    """
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * _ROLLING_BASE + c) % _ROLLING_PRIME,
    )


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token accounting for training-data budgeting: whitespace
    token count, BPE-ish pretoken count, and the rolling-hash
    fingerprint — all map-side column expressions.

    NULL text ≡ '' (the repo-wide convention, r12): 0 tokens, 0
    pretokens, fp('') = 0 — on BOTH engines; un-coalesced, Spark's
    size-of-null and DuckDB's NULL propagation each invent a different
    answer (caught by tests/test_null_text_parity.py)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    return ensure_parallelism(df).select(
        F.col(id_col),
        F.size(tokenize(text)).cast("long").alias("ws_tokens"),
        bpe_token_count(text).alias("bpe_tokens"),
        rolling_hash(text).alias("rolling_fp"),
    )


def hashed_doc_embedding(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashed bag-of-words document embedding, sparse form:
    ``(doc_id, bucket, weight)`` with weight = bucket token count /
    L2 norm of the doc's count vector. The deterministic text→vector
    featurizer that lets the vector operators (ANN, k-means,
    SemDeDup) run over a text corpus with no external model — the
    classic hashing trick (token → md5-derived bucket mod dim).

    Determinism: bucket counts are exact integers; the norm is
    sqrt of an exact integer sum; one double division per row —
    engine-portable like every md5-keyed operator here. Scale: one
    explode + one (doc, bucket) hash-agg (map-side combinable,
    maximal-cardinality keys — no skew), then a per-doc window for
    the norm. The window needs clustering by doc alone, which the
    (doc, bucket) hash partitioning does NOT satisfy, so the plan has
    a second exchange — but it moves the already-aggregated counts
    (≤ dim rows per doc), not tokens; pre-partitioning the raw
    exploded tokens by doc would collapse it to one exchange at the
    cost of shuffling every token uncombined, a bad trade.
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias("tok")
    )
    bucketed = toks.withColumn(
        "bucket",
        (F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long") % dim).cast("long"),
    )
    cnt = bucketed.groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(id_col)
    return cnt.select(
        F.col(id_col),
        F.col("bucket"),
        F.round(
            F.col("cnt") / F.sqrt(F.sum(F.col("cnt") * F.col("cnt")).over(w)), 9
        ).alias("weight"),
    )


def lcg_classifier_weights(dim: int, seed: int = 11) -> list[float]:
    """Deterministic stand-in for offline-trained linear-classifier
    weights: 3-decimal rationals in [-1, 1] from the same LCG family
    the LSH planes use (similarity.lcg_planes). Three decimals keep
    every weight exact in DECIMAL(9,3), which is what makes the
    classifier's margin sum order-independent (see
    linear_quality_score). In production the list comes from a model
    trained offline (fastText / logistic regression on labeled docs);
    the operator contract is just "dim floats, broadcast-small"."""
    weights: list[float] = []
    state = seed
    for _ in range(dim):
        state = (state * 1103515245 + 12345) % (1 << 31)
        weights.append(((state % 2001) - 1000) / 1000.0)
    return weights


def load_classifier_weights(path: str) -> list[float]:
    """Load offline-trained linear-classifier weights from a committed
    JSON fixture ``{"dim": N, "weights": [w0, ...]}`` — the production
    branch of the contract ``lcg_classifier_weights`` stands in for
    (r12 verdict item 5). The swap into ``linear_quality_score`` is
    literally "a different list": the operator quantizes any weight
    list to DECIMAL(9,3) itself, so a real fastText/logistic model
    exported to 3-decimal floats keeps the order-independent margin
    sum. Validates shape (dim matches, finite floats) so a truncated
    or NaN-bearing export fails at load, not mid-job."""
    import json as _json
    import math as _math

    with open(path, encoding="utf-8") as fh:
        model = _json.load(fh)
    dim, weights = model["dim"], [float(w) for w in model["weights"]]
    if len(weights) != dim:
        raise ValueError(f"weights length {len(weights)} != dim {dim}")
    if any(not _math.isfinite(w) for w in weights):
        raise ValueError("non-finite weight in classifier fixture")
    return weights


def train_quality_classifier(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    max_iter: int = 100,
    reg_param: float = 0.0,
) -> list[float]:
    """DISTRIBUTED training path for the committed quality-classifier
    weights (r13 verdict item 2 — the 100 TB *training* story, not
    just scoring): pyspark.ml ``LogisticRegression`` (LBFGS, all
    executors) over the SAME hashed-BoW token-frequency features
    ``linear_quality_score`` consumes, with the SAME label rule the
    committed ``models/quality_weights.json`` records in its
    provenance (stopword_ratio >= 0.04 AND 100 <= len(text) <= 5000).

    Feature vector per doc = bucket-frequency array: token → md5
    bucket (identical expression to the scorer, so train/score cannot
    skew-hash apart), counts normalized by n_tokens, assembled as a
    dense array entirely JVM-side (map_from_entries + sequence lookup
    + array_to_vector — no Python in the feature path). No intercept
    and no standardization: the scorer's margin is a plain
    ``w · freq``, so the trained coefficients must live in that same
    geometry to be a drop-in weight list.

    Returns coefficients rounded to 3 decimals — the DECIMAL(9,3)
    margin discipline every consumer of the weight list quantizes to
    anyway. At 100 TB the plan is unchanged: one token explode + one
    per-doc hash-agg per iteration pass, model size = dim doubles.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    text = F.coalesce(F.col(text_col), F.lit(""))
    labeled = ensure_parallelism(df).select(
        F.monotonically_increasing_id().alias("_rid"),
        text.alias("_text"),
        tokenize(text).alias("_toks"),
    )
    labeled = labeled.withColumn(
        "label",
        (
            (stopword_hit_count(F.col("_toks"), LANG_STOPWORDS["en"]).cast("double")
             / F.size("_toks") >= 0.04)
            & (F.length("_text") >= 100)
            & (F.length("_text") <= 5000)
        ).cast("double"),
    ).filter(F.size("_toks") > 0)

    toks = labeled.select("_rid", "label", F.explode("_toks").alias("tok"))
    bucket = (F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long") % dim).cast("long")
    per_bucket = toks.withColumn("bucket", bucket).groupBy("_rid", "label", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    feats = per_bucket.groupBy("_rid", "label").agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "c"))).alias("m"),
        F.sum("c").alias("n"),
    ).select(
        "label",
        array_to_vector(
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i.cast("long")).cast("double"), F.lit(0.0)
                ) / F.col("n").cast("double"),
            )
        ).alias("features"),
    )
    lr = LogisticRegression(
        maxIter=max_iter,
        regParam=reg_param,
        fitIntercept=False,
        standardization=False,
    )
    model = lr.fit(feats)
    return [round(float(w), 3) for w in model.coefficients]


def linear_quality_score(
    df: DataFrame,
    weights: Sequence[float],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.0,
) -> DataFrame:
    """Model-based quality filtering: score each document with a
    hashed bag-of-words LINEAR classifier (fastText-style — the
    GPT-3 / CCNet / FineWeb-Edu pipeline stage where a small model
    trained offline gates what enters the corpus).

    ``margin = Σ_tokens w[md5_bucket(token)] / n_tokens``;
    ``keep = margin >= threshold``. The weight vector is dim-sized
    (broadcast-small); it lands in the plan as ONE literal array and
    each token's weight is an ``element_at`` lookup — pure map-side,
    no join, no Python. The only shuffle is the per-doc hash-agg,
    map-side combinable on maximal-cardinality keys (doc_id).

    Determinism discipline: per-token weights are DECIMAL(9,3) exact
    (3-decimal rationals), so the margin SUM is order-independent —
    float summation order across partitions is the classic source of
    cross-engine drift. One double division per doc at the end.
    Sigmoid deliberately omitted: it is monotone, so thresholding the
    raw margin is equivalent and avoids betting on cross-engine
    ``exp`` bit-identity.

    Docs with zero tokens produce no row (no tokens → no evidence);
    gate empty docs with the length filters upstream
    (quality_features), as the composed curation pipeline does.
    """
    dim = len(weights)
    w_arr = F.array(*[F.lit(f"{w:.3f}").cast("decimal(9,3)") for w in weights])
    toks = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias("tok")
    )
    scored = toks.withColumn(
        "bucket",
        (F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long") % dim).cast("long"),
    ).withColumn("w", F.element_at(w_arr, (F.col("bucket") + 1).cast("int")))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("w").alias("margin_sum")
    )
    # UNROUNDED final division (r9): the exact-decimal margin_sum
    # converts to the correctly-rounded nearest double on BOTH engines
    # (Spark BigDecimal.doubleValue; DuckDB double(m)/1000.0 — one
    # correctly-rounded IEEE step each), and a further IEEE division by
    # the same n_tokens is then bit-identical. ROUND(x, 6) was the one
    # non-portable step: a margin landing EXACTLY on a half-way point
    # (e.g. 3.141/48 = 0.0654375) rounds up under Spark's HALF_UP on
    # the decimal expansion but down under DuckDB's round-of-the-double
    # — invisible at sf0.01, caught by the r9 sf0.1 oracle sweep.
    margin = F.col("margin_sum").cast("double") / F.col("n_tokens")
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        margin.alias("quality_margin"),
        (margin >= F.lit(threshold)).alias("keep"),
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Corpus-wide adjacent-character pair frequencies — ONE iteration
    of byte-pair-encoding vocabulary induction (Sennrich et al. 2016):
    the pair with the highest count is the next BPE merge. Training a
    tokenizer over a 100 TB corpus is exactly this count repeated per
    merge, so the shape of this single step is what has to scale.

    Two hash-aggs, both skew-resistant BY the first one: tokens
    reduce to the (token, count) VOCABULARY first — at web scale the
    vocab is millions of rows where the corpus is trillions of tokens,
    so the pair explosion runs over the small side, weighted by count
    (the standard trick; exploding pairs straight off the corpus
    would shuffle every character position). ``min_count`` bounds the
    output (and mirrors BPE's own frequency floor); the filter is on
    the AGGREGATED count, applied identically in the oracle.
    """
    toks = ensure_parallelism(df).select(
        F.explode(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    chars = F.split(F.col("tok"), "")
    pairs = vocab.filter(F.length("tok") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.length("tok") - 2),
                lambda i: F.concat(F.get(chars, i), F.get(chars, i + 1)),
            )
        ).alias("pair"),
        F.col("c"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )


# bpe_merges collects the (seq, count) vocabulary to the driver and runs
# the merge loop locally when the vocab is at most this many rows (env
# override SPARK_GRAFT_BPE_DRIVER_VOCAB). ~64 k rows × ~50 B ≈ a few MB —
# the bounded-model-collect class (pq_train sums, k-means centroids), far
# under spark.driver.maxResultSize. Above the cap the distributed
# per-step loop below runs unchanged (the 100 TB path).
_BPE_DRIVER_VOCAB_CAP = int(os.environ.get("SPARK_GRAFT_BPE_DRIVER_VOCAB", "65536"))


def _bpe_merge_loop_local(
    vocab_rows: "list[tuple[str, int]]", n_merges: int
) -> "list[tuple[int, str, str, int]]":
    """The BPE merge loop over a DRIVER-LOCAL vocabulary — bit-identical
    to the distributed per-step loop in ``bpe_merges`` (property-tested
    equal in tests/test_text_analysis.py):

    - pair counts are exact integer sums (order-independent);
    - argmax tie-breaks (cnt DESC, l, r) ascending — Python str
      comparison is code-point order, which equals Spark's UTF8 binary
      ordering (UTF-8 byte order preserves code-point order), so the
      picked pair is identical;
    - the merge applies greedily non-overlapping left-to-right over the
      symbol list — exactly the double-space ``F.replace`` semantics the
      distributed form documents (``a a a`` → ``aa a``; ``a b a b``
      merges both).

    Pair counts are maintained INCREMENTALLY (subtract each affected
    row's pair multiset, apply the merge, add the new multiset), so the
    per-step cost is O(affected rows), not O(vocab).

    ``vocab_rows`` are (seq, count) in ``bpe_merges``' double-space
    layout ('  a  b  c  '); tokens are whitespace-free (tokenize
    contract), so splitting on the double space recovers the symbols.
    """
    merges, _syms = _bpe_merge_loop_local_full(vocab_rows, n_merges)
    return merges


def _bpe_merge_loop_local_full(
    vocab_rows: "list[tuple[str, int]]", n_merges: int
) -> "tuple[list[tuple[int, str, str, int]], list[tuple[list[str], int]]]":
    """``_bpe_merge_loop_local`` returning BOTH the merge table and the
    FINAL per-row symbol state — the trained encoder (r16): applying
    the merge chain to a vocabulary token is exactly what the training
    loop already did to every vocab row, so the final ``syms`` lists
    ARE the encoded symbol sequences ``_bpe_vocab_chain`` would
    recompute distributively (chunked-replace ≡ greedy left-to-right
    per step ≡ this loop's in-place merge — the same equivalence the
    r15 property tests pin). Row order matches ``vocab_rows``."""
    from collections import Counter

    syms: "list[tuple[list[str], int]]" = [
        (s.strip().split("  "), int(c)) for s, c in vocab_rows
    ]
    counts: Counter = Counter()
    for s, c in syms:
        for i in range(len(s) - 1):
            counts[(s[i], s[i + 1])] += c
    merges: "list[tuple[int, str, str, int]]" = []
    for step in range(1, n_merges + 1):
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, left, right, int(cnt)))
        merged = left + right
        for idx, (s, c) in enumerate(syms):
            if len(s) < 2:
                continue
            hit = any(
                s[i] == left and s[i + 1] == right for i in range(len(s) - 1)
            )
            if not hit:
                continue
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] -= c
            out: "list[str]" = []
            i = 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            for i in range(len(out) - 1):
                counts[(out[i], out[i + 1])] += c
            syms[idx] = (out, c)
        counts = Counter({k: v for k, v in counts.items() if v > 0})
    return merges, syms


def bpe_merges(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Full BPE vocabulary induction: ``n_merges`` merge steps, each
    picking the corpus-wide most frequent adjacent SYMBOL pair and
    applying it to the vocabulary (Sennrich et al. 2016) — the
    driver-controlled iterative loop ``bpe_pair_counts`` is one step
    of. Returns the merge table (step, left, right, pair_count): the
    trained tokenizer.

    Scale shape (the reason this works at 100 TB): after the one-time
    token count, EVERY iteration runs over the (token, count)
    VOCABULARY — millions of rows for a trillions-of-tokens corpus —
    so per-step cost is O(vocab), independent of corpus size. Per step:
    one hash-agg over exploded symbol pairs (weighted by count), one
    1-row argmax collect (bounded driver traffic, the
    connected_components convergence-check pattern), one map-side
    string replace, and a ``localCheckpoint`` to stop the per-step
    lineage/plan growth that would otherwise make step N re-plan steps
    1..N-1.

    Symbol sequences are DOUBLE-SPACE-joined strings
    (``'  a  b  c  '``): applying merge (a, b) is then ONE literal
    ``replace(seq, ' a  b ', ' ab ')`` whose scan-resumes-after-the-
    replacement semantics (identical in Spark and ANSI SQL) implement
    exactly BPE's greedy non-overlapping left-to-right application —
    ``a a a`` merges to ``aa a``, and consecutive disjoint pairs
    ``a b a b`` both merge (a SINGLE-space join fails that case: the
    first replacement consumes the shared boundary space). Tokens are
    alphanumeric (tokenize), so symbols never contain spaces.

    Ties on pair_count break by (left, right) ascending — fully
    deterministic, oracle-reproducible (the unrolled-CTE DuckDB twin
    hash-matches the whole merge table).
    """
    toks = ensure_parallelism(df).select(
        F.explode(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # '  a  b  c  ': every char followed by two spaces, two leading
    seq = F.concat(F.lit("  "), F.regexp_replace(F.col("tok"), "(.)", "$1  "))
    vocab = vocab.select(seq.alias("seq"), "c").localCheckpoint(eager=False)
    # Layout the loop state from the DATA, not a constant (guide §2
    # scale-adaptive partitioning, §2.4 remove shuffles): the per-step
    # argmax is a pair-explode + hash-agg over the VOCABULARY, and with
    # the vocab checkpointed at scan parallelism every step paid an
    # exchange — under AQE that is 2 scheduled jobs × up to 32 tasks
    # per step for kilobytes of data (r15 measured the registered
    # 8-step query at 20 jobs, wall ≫ CPU). A vocab below
    # ~64 k rows/partition-worth of work collapses to ONE partition:
    # SinglePartition satisfies the agg's required distribution, so
    # each step becomes one exchange-free single-stage job (integer
    # sums and the (cnt DESC, l, r) argmax are aggregation-order-
    # independent — results are bit-identical). A web-scale vocab
    # (millions of rows) keeps multi-partition layout and the exchange
    # — there the per-step compute dominates and the parallelism is
    # the point. The count() below doubles as the checkpoint
    # materialization step 1 would otherwise pay.
    # Small vocab: the distributed loop is ~2 scheduled jobs PER
    # MERGE STEP over kilobytes of data (r15 measured the 8-step
    # registered query at 14 jobs / 3.1 s wall for 0.2 s of CPU —
    # pure driver↔scheduler latency, guide §1.2 "the distributed
    # algorithm" / §5 bounded model collect). Collect the (seq, c)
    # vocabulary ONCE and run the loop locally — bit-identical output
    # by the equivalence argument on _bpe_merge_loop_local. Sizing and
    # fetching are ONE job (r16, the connected_components probe-collect
    # fusion): limit(cap+1) returns ≤ cap rows iff the vocab fits (the
    # rows ARE the model input), cap+1 iff not (discard; the
    # distributed loop below pays its own count for the layout). The
    # cap keeps the collect bounded; a web-scale vocab takes the
    # distributed loop.
    probe_rows = vocab.limit(_BPE_DRIVER_VOCAB_CAP + 1).collect()
    if len(probe_rows) <= _BPE_DRIVER_VOCAB_CAP:
        merges_local = _bpe_merge_loop_local(
            [(r["seq"], int(r["c"])) for r in probe_rows], n_merges
        )
        return df.sparkSession.createDataFrame(
            merges_local, "step: long, left: string, right: string, pair_count: long"
        )
    n_vocab = vocab.count()
    sc = df.sparkSession.sparkContext
    vparts = max(1, min(sc.defaultParallelism, int(n_vocab // 65536)))
    if vparts < vocab.rdd.getNumPartitions():
        # Narrow coalesce of the materialized checkpoint blocks: every
        # later replace+checkpoint then carries vparts tasks, not the
        # initial scan parallelism.
        vocab = vocab.coalesce(vparts)

    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("seq")), "  ")
        pair_structs = F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(
                F.get(syms, i).alias("l"), F.get(syms, i + 1).alias("r")
            ),
        )
        # coalesce(1) (narrow, a no-op move for an already-tiny vocab)
        # is what DECLARES SinglePartition to the planner — the
        # checkpointed RDD itself reports unknown partitioning.
        step_in = vocab.coalesce(1) if vparts == 1 else vocab
        best = (
            step_in.filter(F.size(syms) >= 2)
            .select(F.explode(pair_structs).alias("p"), "c")
            .groupBy("p.l", "p.r")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append((step, left, right, cnt))
        vocab = vocab.select(
            F.replace(
                F.col("seq"), F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
            ).alias("seq"),
            "c",
        ).localCheckpoint(eager=False)

    return df.sparkSession.createDataFrame(
        merges, "step: long, left: string, right: string, pair_count: long"
    )


def bpe_trained_encoder(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> "tuple[list[tuple[str, str]], list[tuple[str, list[str]]]] | None":
    """Train BPE driver-locally and return the FULL model —
    ``(merges, enc)`` with ``merges`` the ordered (left, right) list and
    ``enc`` the per-vocabulary-token final symbol sequences
    ``[(tok, [sym, ...]), ...]`` — or ``None`` when the vocabulary
    exceeds ``_BPE_DRIVER_VOCAB_CAP`` (callers then take the unchanged
    distributed train→encode path).

    Why this exists (r16, guide §1.2 "the distributed algorithm" /
    §2.4 fewer jobs): the registered encode family trains with
    ``bpe_merges`` (driver-local for small vocabs since r15) and then
    RE-DERIVES tok → final-symbols distributively in
    ``_bpe_vocab_chain`` — a distinct + chained-replace pipeline whose
    result the training loop already computed row by row. Returning the
    final ``syms`` state alongside the merge table makes encoding a
    broadcast join against a local relation: the encode family loses
    the vocab distinct exchange and the replace chain entirely. The
    r15 anti-scaling evidence (bpe_encode 8-core/32-core ratio 0.58 —
    MORE cores slower) was exactly these small-data stages scheduling
    32-way; a local relation has no stage to over-schedule.

    Bit-equality with the distributed path: the vocab ``seq`` strings
    are built by the SAME Spark expression ``bpe_merges`` uses (so char
    splitting stays Java-regex semantics — no Python/JVM divergence on
    exotic code points), and ``_bpe_merge_loop_local_full``'s in-place
    merge is the property-tested equivalent of the per-step
    double-space replace. Symbol→id mapping is NOT done here — callers
    keep computing ids with the same Spark expressions (``F.ascii``)
    as the distributed path, see ``_bpe_token_ids``.

    Sizing and fetching the vocab is ONE job (the connected_components
    probe-collect fusion): ``limit(cap+1)`` returns ≤ cap rows iff the
    vocab fits (those rows ARE the model input), cap+1 iff not.
    """
    toks = ensure_parallelism(df).select(
        F.explode(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    seq = F.concat(F.lit("  "), F.regexp_replace(F.col("tok"), "(.)", "$1  "))
    probe = (
        vocab.select("tok", seq.alias("seq"), "c")
        .limit(_BPE_DRIVER_VOCAB_CAP + 1)
        .collect()
    )
    if len(probe) > _BPE_DRIVER_VOCAB_CAP:
        return None
    merges_full, syms = _bpe_merge_loop_local_full(
        [(r["seq"], int(r["c"])) for r in probe], n_merges
    )
    merges = [(left, right) for _step, left, right, _cnt in merges_full]
    enc = [(r["tok"], s) for r, (s, _c) in zip(probe, syms)]
    return merges, enc


def bpe_merges_incremental(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """``bpe_merges`` with the standard incremental pair-count-delta
    trainer (the production form every real BPE trainer uses — and the
    closure of SCALE.md r14's watch item: the re-count form's per-step
    cost grows with merge count because EVERY step re-explodes the full
    vocabulary's pairs; at a production 32 k-merge vocab that re-scan
    dominates).

    State across steps: the vocab (seq, c) AND a maintained global
    pair-count table. Per step:
    1. argmax over the COUNTS TABLE (1-row collect — no vocab scan);
    2. the merge touches only vocab rows whose seq CONTAINS the merged
       pair — recompute just those rows' pair multisets before/after
       the replace and apply the delta to the counts table;
    3. untouched rows pass through by reference.
    The explode+agg work per step is O(affected rows + pair-table agg)
    instead of O(vocab); the before/after delta is computed on whole
    rows, so greedy non-overlapping replace semantics (``a a a`` →
    ``aa a``) are exact by construction — no adjacency bookkeeping to
    get wrong.

    MEASURED HONESTLY (SCALE.md r14): at 500 k docs / ≤24 merges the
    re-count form is FASTER (0.17 s/step vs 1.3) — both forms
    re-materialize the vocab cache per step (the localCheckpoint that
    keeps lineage flat), so the delta machinery (two pair aggs over
    affected rows + a counts-table re-agg) only pays once the full
    pair explode dominates that floor: very large vocabularies deep
    into a 32 k-merge schedule where the affected fraction is tiny.
    Use the re-count form by default; switch when profiling shows the
    per-step pair explode is the bottleneck.

    Output is IDENTICAL to ``bpe_merges`` (same argmax, same
    deterministic (cnt DESC, l, r) tie-break, same replace) —
    property-tested equal on random corpora; the registered spec keeps
    the re-count form (its unrolled-CTE oracle mirrors that shape 1:1),
    and this form is the drop-in for merge counts where the re-scan
    would bite."""
    toks = ensure_parallelism(df).select(
        F.explode(tokenize(F.coalesce(F.col(text_col), F.lit("")))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    seq = F.concat(F.lit("  "), F.regexp_replace(F.col("tok"), "(.)", "$1  "))
    vocab = vocab.select(seq.alias("seq"), "c").localCheckpoint(eager=False)

    def pair_counts(v: DataFrame) -> DataFrame:
        syms = F.split(F.trim(F.col("seq")), "  ")
        pair_structs = F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(F.get(syms, i).alias("l"), F.get(syms, i + 1).alias("r")),
        )
        return (
            v.filter(F.size(syms) >= 2)
            .select(F.explode(pair_structs).alias("p"), "c")
            .groupBy("p.l", "p.r")
            .agg(F.sum("c").alias("cnt"))
        )

    counts = pair_counts(vocab).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = counts.orderBy(F.col("cnt").desc(), F.col("l"), F.col("r")).limit(1).collect()
        if not best or int(best[0].cnt) <= 0:
            break
        left, right, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append((step, left, right, cnt))
        hit = F.col("seq").contains(f" {left}  {right} ")
        affected = vocab.filter(hit)
        merged = affected.select(
            F.replace(
                F.col("seq"), F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
            ).alias("seq"),
            "c",
        )
        # counts += pairs(after) − pairs(before), over affected rows only
        delta = pair_counts(merged).unionByName(
            pair_counts(affected).select("l", "r", (-F.col("cnt")).alias("cnt"))
        )
        counts = (
            counts.unionByName(delta)
            .groupBy("l", "r")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
            .localCheckpoint(eager=False)
        )
        vocab = vocab.filter(~hit).unionByName(merged).localCheckpoint(eager=False)

    return df.sparkSession.createDataFrame(
        merges, "step: long, left: string, right: string, pair_count: long"
    )


def _sql_str_lit(s: str) -> str:
    """Single-quoted Spark SQL string literal (backslash escaping)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _enc_values_df(spark, enc: "list[tuple[str, list[str]]]", with_syms: bool):
    """The trained tok→symbols model as an INLINE-TABLE DataFrame —
    ``VALUES ... AS t(tok, syms|n_sym)`` built in ONE parser call (the
    r15 literal-vector trick applied to a relation). Two properties a
    ``createDataFrame(list)`` local relation does NOT have:

    - the plan is a LocalRelation of pure literals, which CANONICALIZES
      EQUAL across calls (measured: ``sameResult`` true for two parses,
      false for two createDataFrame calls) — so a downstream persist is
      CacheManager-keyed to ONE bounded entry per session instead of
      compounding one per invocation (the repo's caller-owned-persist
      contract, pinned in tests/test_plan_quality.py);
    - no py4j round-trip per row.

    Size is bounded by _BPE_DRIVER_VOCAB_CAP rows (the callers' gate);
    the one-shot parse of that worst-case ~10 MB SQL text is driver
    work the distributed path would spend many times over in per-step
    scheduling. Tokens are \\p{L}\\p{N}-only by the tokenize contract,
    but values are escaped anyway (operator API accepts any enc)."""
    if with_syms:
        rows = ",".join(
            f"({_sql_str_lit(tok)},array({','.join(_sql_str_lit(x) for x in syms)}))"
            for tok, syms in enc
        )
        return spark.sql(f"SELECT tok, syms FROM VALUES {rows} AS t(tok, syms)")
    rows = ",".join(f"({_sql_str_lit(tok)},{int(len(syms))})" for tok, syms in enc)
    return spark.sql(f"SELECT tok, n_sym FROM VALUES {rows} AS t(tok, n_sym)")


def bpe_encode_counts(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 64,
    enc: "list[tuple[str, list[str]]] | None" = None,
) -> DataFrame:
    """APPLY a trained BPE merge table: per document, the word count
    and the BPE token count under the tokenizer ``bpe_merges``
    induced — the train→encode round trip, and the number every
    token-budget pipeline actually needs (``token_budget`` counts
    words; a budget in model tokens needs THIS).

    Scale shape: the merge chain is applied per token TYPE, not per
    occurrence — distinct tokens (vocab-sized: millions of rows for a
    trillions-of-tokens corpus) run the chained double-space literal
    replaces (identical greedy left-to-right semantics as training,
    see ``bpe_merges``), reduce to (token, n_symbols), and join back
    onto the exploded doc tokens (AQE broadcasts the vocab side when
    it fits; the join key is the token string — max-cardinality, no
    skew). Encoding cost is O(vocab × merges) + one count-shaped join,
    independent of how often each token repeats. Zero-token documents
    emit no row (nothing to encode — the ``chunk_documents``
    convention). ``merges`` is the driver-side trained model (a
    per-step (left, right) list — the k-means-centroid pattern:
    model as literals, never a Python UDF).

    MERGE-DEPTH bound (r7 verdict item 2): one nested ``F.replace``
    per merge would make the expression tree ``len(merges)`` deep — a
    Catalyst analysis/codegen cliff long before data is touched at a
    real 32k-merge vocab. The chain is therefore applied to the
    distinct-token vocabulary frame in ``chunk``-sized slices with a
    ``localCheckpoint(eager=False)`` between slices (``bpe_merges``'
    own per-step truncation pattern): expression depth is capped at
    ``chunk`` and total cost is O(vocab) per slice ×
    ``ceil(merges/chunk)`` slices — the same O(vocab × merges) work,
    with plan size now O(chunk) instead of O(merges). At the
    registered query's n_merges=8 the single slice is plan-identical
    to the unchunked form. Greedy application order is preserved:
    merges take effect strictly in training order regardless of slice
    boundaries (chunked ≡ unchunked, property-tested).

    Precondition: ``enc`` must come from ``bpe_trained_encoder`` trained on
    the same tokenized corpus as ``df``. Document tokens missing from
    ``enc`` are dropped by the inner join, so a foreign ``enc``
    undercounts silently; with ``enc=None`` the vocabulary is derived
    from ``df`` itself and covers every token.
    """
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    doc_toks = ensure_parallelism(df).select(F.col(id_col), F.explode(toks).alias("tok"))
    if enc:
        # Trained model supplied (bpe_trained_encoder, r16): the
        # tok → n_symbols table is an inline-table relation — the vocab
        # distinct + chained-replace pipeline below never runs, and the
        # join is a broadcast against ≤ _BPE_DRIVER_VOCAB_CAP rows.
        # n_sym = len(final symbol list), identical to counting the
        # double-space splits of the chain's output (same model state).
        enc_df = _enc_values_df(df.sparkSession, enc, with_syms=False)
    else:
        vocab = _bpe_vocab_chain(doc_toks, merges, chunk)
        enc_df = vocab.select(
            "tok", F.size(F.split(F.trim(F.col("seq")), "  ")).alias("n_sym")
        )
    return (
        doc_toks.join(enc_df, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
    )


def _bpe_vocab_chain(
    doc_toks: DataFrame, merges: "list[tuple[str, str]]", chunk: int
) -> DataFrame:
    """The ONE chunked merge-application chain (tok → final
    double-space ``seq``) shared by ``bpe_encode_counts`` and
    ``_bpe_token_ids`` — a single implementation so a future change to
    the checkpoint cadence or a boundary condition cannot drift
    between the two encoders (the ``stateful`` shared-kernel rule,
    review finding r8). Last slice stays un-checkpointed so it fuses
    into the caller's join."""
    seq0 = F.concat(F.lit("  "), F.regexp_replace(F.col("tok"), "(.)", "$1  "))
    vocab = doc_toks.select("tok").distinct().select("tok", seq0.alias("seq"))
    for i in range(0, len(merges), chunk):
        seq = F.col("seq")
        for left, right in merges[i : i + chunk]:
            seq = F.replace(seq, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} "))
        vocab = vocab.select("tok", seq.alias("seq"))
        if i + chunk < len(merges):
            vocab = vocab.localCheckpoint(eager=False)
    return vocab


def bpe_encode_tokens(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 64,
    enc: "list[tuple[str, list[str]]] | None" = None,
) -> DataFrame:
    """Full tokenizer application: per document, the MODEL-READY BPE
    token-id sequence under the trained merge table — what a training
    pipeline actually feeds the dataloader (``bpe_encode_counts`` gives
    the budget NUMBER; this gives the tokens). Ids use the classic BPE
    vocabulary layout: a single-char base symbol is its code point
    (``ascii``), the symbol produced by merge step s (1-based) is
    ``255 + s`` — so ids are stable across corpora for a fixed merge
    table, exactly like a shipped tokenizer. When two merge steps
    produce the same surface string via different parses (possible in
    BPE), the LOWEST id wins deterministically on both engines.

    Output: ``(doc_id, n_words, n_bpe_tokens, token_ids)`` with
    ``token_ids`` the space-joined id sequence in document order.
    Zero-token documents emit no row.

    Scale shape: merges apply per token TYPE on the vocab frame with
    the same chunked/checkpointed chain as ``bpe_encode_counts``
    (depth capped at ``chunk``); symbol→id mapping is a broadcast join
    of the EXPLODED vocab symbols against the O(n_merges) merge-id
    frame (never a 2·n_merges-argument literal map — that would
    recreate the expression-depth cliff the chunking removed); doc
    order is restored by sorting per-token (position, ids) structs
    inside the per-doc aggregate — one vocab-keyed join + one doc-keyed
    agg, both max-cardinality keys, no skew."""
    return _bpe_token_ids(df, merges, text_col, id_col, chunk, enc).select(
        id_col,
        "n_words",
        F.size("_all_ids").cast("long").alias("n_bpe_tokens"),
        F.array_join(F.transform("_all_ids", lambda x: x.cast("string")), " ").alias(
            "token_ids"
        ),
    )


def tokenizer_fertility(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    group_col: str = "source",
    chunk: int = 64,
    enc: "list[tuple[str, list[str]]] | None" = None,
) -> DataFrame:
    """Per-``group_col`` tokenizer FERTILITY audit: how many model
    tokens the trained BPE table spends per word and how many
    characters each token carries — the corpus-health numbers a
    multilingual/multi-source mix is tuned on (a source whose
    fertility is 2× the corpus mean is under-served by the tokenizer
    and will train at half the effective context).

    Output: ``(source, n_words, n_bpe_tokens, n_chars, fertility,
    chars_per_token)`` with fertility = n_bpe_tokens/n_words and
    chars_per_token = n_chars/n_bpe_tokens — exact-integer sums, one
    unrounded IEEE division each (cross-engine bit-stable). n_chars
    counts TOKEN characters (Σ len(token) over occurrences), not raw
    text bytes, so whitespace conventions can't skew the ratio.

    Scale shape: the merge chain runs on the distinct-token VOCABULARY
    (the ``_bpe_vocab_chain`` shared kernel — O(vocab × merges),
    corpus-size-independent), joins back per token TYPE, and reduces
    to one row per source: one scan, the vocab distinct, and one
    low-cardinality group agg whose partial combine collapses each
    task to O(sources) rows before the exchange.

    Precondition: ``enc`` must come from ``bpe_trained_encoder`` trained on
    the same tokenized corpus as ``df``. Document tokens missing from
    ``enc`` are dropped by the inner join, so a foreign ``enc``
    undercounts silently; with ``enc=None`` the vocabulary is derived
    from ``df`` itself and covers every token.
    """
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    doc_toks = ensure_parallelism(df).select(
        F.col(group_col).alias("_grp"), F.explode(toks).alias("tok")
    )
    if enc:
        # Trained model supplied (bpe_trained_encoder, r16): inline-
        # table relation, no distributed vocab chain — see
        # bpe_encode_counts.
        enc_df = _enc_values_df(df.sparkSession, enc, with_syms=False).select(
            "tok", F.col("n_sym").alias("_n_sym"), F.length("tok").alias("_n_chr")
        )
    else:
        vocab = _bpe_vocab_chain(doc_toks, merges, chunk)
        enc_df = vocab.select(
            "tok",
            F.size(F.split(F.trim(F.col("seq")), "  ")).alias("_n_sym"),
            F.length("tok").alias("_n_chr"),
        )
    agg = (
        doc_toks.join(enc_df, "tok")
        .groupBy("_grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("_n_sym").cast("long").alias("n_bpe_tokens"),
            F.sum("_n_chr").cast("long").alias("n_chars"),
        )
    )
    return agg.select(
        F.col("_grp").alias(group_col),
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        (F.col("n_bpe_tokens").cast("double") / F.col("n_words").cast("double")).alias(
            "fertility"
        ),
        (F.col("n_chars").cast("double") / F.col("n_bpe_tokens").cast("double")).alias(
            "chars_per_token"
        ),
    )


def load_gpt2_merges(path: str) -> "list[tuple[str, str]]":
    """Parse a merge table in the public GPT-2 ``merges.txt`` layout —
    optional ``#version`` header, then one ``left right`` pair per
    line in training order — into the ``merges`` list every encoder
    here consumes. This is the swap-in point for a real shipped
    tokenizer: hand ``bpe_encode_tokens`` the parsed file instead of a
    ``bpe_merges``-trained table and the plan is unchanged (the model
    is driver-side literals either way).

    Well-formedness caveat (r12 verdict item 2): this engine applies
    merges sequentially in TRAINING ORDER, the GPT-2 encoder by rank
    priority. The two are equivalent exactly when the table is
    well-formed (every merge's left/right is a base symbol or the
    product of an EARLIER merge) — true of any table BPE training can
    emit, including real merges.txt files; an adversarial out-of-order
    table can diverge. tests/test_bpe_scale.py pins the equivalence on
    an external-format fixture against an independent rank-priority
    reference encoder.
    """
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            left, sep, right = line.partition(" ")
            if not sep or not left or not right or " " in right:
                raise ValueError(f"malformed merges.txt line: {line!r}")
            merges.append((left, right))
    return merges


def _bpe_token_ids(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 64,
    enc: "list[tuple[str, list[str]]] | None" = None,
) -> DataFrame:
    """Shared tokenizer core: ``(id_col, n_words, _all_ids)`` with
    ``_all_ids`` the document-order array of BPE token ids — consumed
    by ``bpe_encode_tokens`` (display form) and
    ``packing.pack_token_sequences`` (sequence assembly). See
    ``bpe_encode_tokens`` for the id layout and scale shape.

    ``enc`` (optional, from ``bpe_trained_encoder``): the trained
    tok → final-symbols model as a local list. When supplied, the vocab
    chain + symbol posexplode/join/reassemble below collapse to a pure
    projection over a local relation — ids are computed by the SAME
    Spark expressions (``F.ascii`` for base symbols, lowest 255+step
    for merge products), so the output is bit-identical; only the plan
    shrinks (no distinct exchange, no replace chain, no per-symbol
    explode — the r16 encode-family de-scheduling).

    Precondition: ``enc`` must come from ``bpe_trained_encoder`` trained on
    the same tokenized corpus as ``df``. Document tokens missing from
    ``enc`` are dropped by the inner join, so a foreign ``enc``
    undercounts silently; with ``enc=None`` the vocabulary is derived
    from ``df`` itself and covers every token."""
    spark = df.sparkSession
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    doc_toks = ensure_parallelism(df).select(
        F.col(id_col), F.posexplode(toks).alias("tpos", "tok")
    )

    # duplicate surface forms across steps → lowest id, deterministic
    sym_rows = {}
    for s, (left, right) in enumerate(merges, start=1):
        sym_rows.setdefault(left + right, 255 + s)

    if enc:
        enc_df = _enc_values_df(spark, enc, with_syms=True)
        if sym_rows:
            items = sorted(sym_rows.items())
            sid_map = F.map_from_arrays(
                F.array(*[F.lit(k) for k, _v in items]),
                F.array(*[F.lit(v).cast("long") for _k, v in items]),
            )
            sid_of = lambda s: F.coalesce(  # noqa: E731
                F.try_element_at(sid_map, s), F.ascii(s).cast("long")
            )
        else:
            sid_of = lambda s: F.ascii(s).cast("long")  # noqa: E731
        tok_ids = enc_df.select("tok", F.transform("syms", sid_of).alias("ids"))
    else:
        vocab = _bpe_vocab_chain(doc_toks, merges, chunk)
        sym_ids = spark.createDataFrame(
            sorted(sym_rows.items()), "sym: string, sid: long"
        )
        tok_syms = vocab.select(
            "tok", F.posexplode(F.split(F.trim(F.col("seq")), "  ")).alias("spos", "sym")
        )
        tok_ids = (
            tok_syms.join(F.broadcast(sym_ids), "sym", "left")
            .select(
                "tok",
                "spos",
                F.coalesce(F.col("sid"), F.ascii(F.col("sym")).cast("long")).alias("sid"),
            )
            .groupBy("tok")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("spos", "sid"))), lambda x: x.sid
                ).alias("ids")
            )
        )
    return (
        doc_toks.join(tok_ids, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "ids"))),
                    lambda x: x.ids,
                )
            ).alias("_all_ids"),
        )
    )

def _winnow_fp_frame(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Winnowing fingerprint table ``(id, n_grams, fps)`` — the shared
    kernel of winnow_fingerprints and winnow_match_pairs (the gram
    hashing and window-min selection must be ONE definition or the
    cross-engine hash-match contract silently splits). ``fps`` is
    distinct, unsorted.

    STAGED MATERIALIZATION, load-bearing: higher-order-function lambdas
    are evaluated interpreted with NO loop-invariant hoisting (the
    media_pseudo_embedding lesson) — with the gram array inlined as an
    expression, every window-min lambda recomputed ALL the gram md5s
    (O(n_grams²) hashes per doc), and every consumer of the fps
    expression paid that again. Aliasing grams and fps as real columns
    between projections makes each array compute once per row:
    CollapseProject declines to merge a projection whose alias is
    consumed more than once by non-cheap expressions, so the boundary
    holds. Measured at sf0.1: 32.5 s → ~1 s for the registered
    winnow_fingerprint query, identical output."""
    # _toks staged like _grams and _fps below (r16): the gram lambda
    # references the token array, and an inlined tokenize would re-run
    # once per gram position — the same un-hoisted-HOF class the
    # _grams/_fps staging already fixed one level up.
    toks = F.col("_toks")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 8), 16, 10
        ).cast("long"),
    )
    g = F.col("_grams")
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(g) - w + 1, F.lit(1))),
            lambda j: F.array_min(F.slice(g, j, w)),
        )
    )
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            tokenize(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
        )
        .select(F.col(id_col), grams.alias("_grams"))
        .select(F.col(id_col), F.size(g).alias("n_grams"), fps.alias("_fps"))
        .select(F.col(id_col), "n_grams", F.col("_fps").alias("fps"))
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm): hash every k-token gram, then keep the MIN
    hash of each w-length window of consecutive grams. Guarantees at
    least one shared fingerprint for any shared run of k+w−1 tokens,
    with ~2/(w+1) selection density — the edit-ROBUST fingerprint
    between the brittle whole-doc md5 (``fingerprint``) and the full
    stride grid (``substring_dup_stats``): insertions outside a
    window leave its fingerprint unchanged.

    Emits per doc: gram count, selected-fingerprint count, and a
    digest of the sorted fingerprint set (the compact
    similarity-index key). ZERO shuffles — grams, window minima,
    distinct and digest are all array expressions inside the scan;
    pairing/matching composes downstream exactly like
    substring_dup_stats' join (on exploded fingerprints).

    Docs shorter than k tokens contribute their whole token join as
    one gram (short-doc exact matching, same convention as
    word_shingles).
    """
    base = _winnow_fp_frame(df, id_col, text_col, k, w)
    fps = F.array_sort(F.col("fps"))
    return base.select(
        F.col(id_col),
        "n_grams",
        F.size("fps").alias("n_fingerprints"),
        F.md5(F.concat_ws(",", F.transform(fps, lambda x: x.cast("string")))).alias(
            "fp_digest"
        ),
    )


def bigram_surprisal(
    df: DataFrame,
    k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram-LM perplexity score: average −ln p(w₂|w₁) per doc under
    the corpus's own add-k-smoothed bigram model — one step up the
    n-gram ladder from ``unigram_surprisal`` and the cheap stand-in
    for the CCNet/KenLM perplexity filter (a doc full of corpus-rare
    CONTINUATIONS scores high even when its individual tokens are
    common — the signal that catches shuffled/garbled text unigram
    stats miss).

    p(w₂|w₁) = (C(w₁,w₂) + k) / (C(w₁·) + k·V), with C(w₁·) the
    count of bigrams starting w₁ and V the context vocabulary size
    (a single broadcast row). Same shuffle shape as
    unigram_surprisal one level up: bigram counts [1], context
    counts re-agg of the (small) bigram table [2], scoring join back
    to the exploded bigram stream. At 100 TB prune both count tables
    with a min-count and broadcast them (vocab-sized); shuffle join
    kept here for exact oracle parity. Docs with <2 tokens have no
    bigrams and emit no row (gate with quality_features upstream).
    """
    # Token array STAGED as a real column (r16, the shingle lesson):
    # an inlined ``toks`` in the bigram lambda re-runs tokenize once
    # per bigram position — O(tokens²) per doc.
    toks = F.col("_toks")
    n = F.size(toks)
    bigram_list = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    bg = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            tokenize(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
        )
        .filter(n >= 2)
        .select(F.col(id_col), F.explode(bigram_list).alias("bigram"))
    )
    bg = bg.withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
    bgc = bg.groupBy("w1", "bigram").agg(F.count(F.lit(1)).alias("c2"))
    ctx = bgc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = ctx.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        bg.join(bgc.drop("w1"), "bigram")
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
    )
    logp = F.log((F.col("c2") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v")))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg(-logp), 6).alias("bigram_surprisal"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word n-grams whose first corpus occurrence (min doc id) is an
    EARLIER document — the cheap freshness signal a training pipeline
    reads alongside near-dup rates (a "new" crawl snapshot whose
    median novelty is near zero is a re-crawl; per-source novelty
    curves say which feeds still add content). Ingestion order is the
    id order, the same convention the incremental dedup family keys
    on.

    Plan: distinct-shingle explode (``dedup.word_shingles`` — the
    ngram_jaccard tokenization) → min-id per shingle [one vocab-scale
    shuffle] → join back [second] → per-doc counts [third]. Counts are
    integers and the novelty division is one double op per row — no
    float-sum order anywhere, so the output is unrounded (the repo's
    standing decision).

    The r11-documented min-df prune is BUILT IN (r12), exactness
    preserved: a shingle with document frequency 1 has its only
    occurrence AS its first occurrence — it can never be "seen
    before" — so the join-back table keeps only df ≥ 2 shingles and
    the join goes LEFT (null first_doc ≡ not seen). Web-scale shingle
    vocabularies are hapax-dominated (≥ half of 3-gram types occur
    once), so the table the second shuffle moves shrinks by that
    fraction and becomes broadcast-eligible at far larger corpora.
    (The synthetic sf0.1 corpus draws from a small vocabulary and
    barely prunes — 27 213 → 27 006 types — so the win is a
    real-corpus property, not a bench number; the exactness argument
    is what the parity suites check.)

    Output: (doc_id, n_grams, n_seen_before, novelty).
    """
    from rt_bigdata_spark.operators.dedup import shingle_explode

    sh = shingle_explode(
        ensure_parallelism(df),
        text_col,
        n=n,
        alias="g",
        keep=[F.col(id_col).alias("doc")],
    )
    first = (
        sh.groupBy("g")
        .agg(F.min("doc").alias("first_doc"), F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= 2)
        .drop("_df")
    )
    seen = F.sum(F.when(F.col("first_doc") < F.col("doc"), 1).otherwise(0))
    return (
        sh.join(first, "g", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            seen.cast("long").alias("n_seen_before"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_grams",
            "n_seen_before",
            (F.lit(1.0) - F.col("n_seen_before").cast("double") / F.col("n_grams")).alias("novelty"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target: Column,
    k: float = 0.5,
    num_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per document, the
    log importance ratio ln p_target(x)/p_raw(x) under hashed-bigram
    bag-of-ngrams models of a TARGET slice (``target``, a boolean
    Column over the input rows — e.g. a trusted high-quality source)
    and the RAW corpus. Documents whose feature profile looks like the
    target score high; downstream resampling (``token_budget`` /
    ``stratified_sample``) selects by this score. This is the standard
    cheap alternative to a trained quality classifier for steering a
    100 TB pretraining mix toward a reference distribution.

    Model: bigrams hash into ``num_buckets`` buckets (the paper's
    dimensionality-capping trick — the stats table is O(buckets), not
    O(vocab²)); p(b) is add-k smoothed over bucket counts,
    lr(b) = ln p_t(b) − ln p_r(b), and a doc's score is
    Σ cnt(b)·lr(b) over its feature counts.

    Plan shape (one feature pass, everything downstream bounded):
    map-side bigram explode + hash → groupBy(doc, bucket) counts [the
    only corpus-scale shuffle] → groupBy(bucket) raw/target counts
    (``num_buckets`` rows) → 1-row totals broadcast-crossJoined on —
    the unigram_surprisal/bm25 1-row-stats shape → per-bucket log
    ratios broadcast back onto the doc-bucket counts → groupBy(doc).
    The feature subplan appears on three logical branches, but the
    FINAL adaptive plan reuses both its exchange and the stats
    exchange (measured r11: ReusedExchange ×2, isFinalPlan=true), so
    the corpus is scanned/exploded once per run. At 100 TB the stats
    table is a few KB regardless of corpus size: the two broadcasts
    are the whole cross-stage data flow.

    Determinism discipline: counts are integers; lr is ln of exact
    integer ratios (cross-engine ln parity relied on by the green
    ``bigram_surprisal``); the per-doc float sum rounds to 6 decimals
    (the repo's float-agg convention) so partial-sum order can't leak
    into the hash compare. Docs with <2 tokens have no features and
    emit no row.
    """
    feats = dsir_doc_features(df, target, num_buckets, text_col, id_col)
    stats = dsir_bucket_stats(feats)
    return dsir_score(feats, stats, k, num_buckets, id_col)


def dsir_doc_features(
    df: DataFrame,
    target: Column,
    num_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR stage 1 — per-doc hashed-bigram feature counts:
    ``(id, is_t, bucket, cnt)``. The only corpus-scale work in the
    whole DSIR family; split out so the streaming maintenance sink and
    the batch operator share ONE feature definition (hash, tokenize,
    bigram, bucket) and can never drift."""

    # Raw 32-bit md5 prefix (the _duck_md5_32 oracle idiom) — NOT
    # dedup._shingle_hash, whose extra % MINHASH_PRIME would change the
    # bucket mapping.
    def _bucket_hash(c: Column) -> Column:
        return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")

    # Token array STAGED as a real column (r16, the shingle lesson):
    # an inlined ``toks`` in the bigram lambda re-runs tokenize once
    # per bigram position — O(tokens²) per doc. ``target`` references
    # the caller's columns, so it is evaluated in the staging select.
    toks = F.col("_toks")
    n = F.size(toks)
    bigram_list = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            target.alias("is_t"),
            tokenize(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
        )
        .filter(n >= 2)
        .select(
            F.col(id_col),
            F.col("is_t"),
            F.explode(bigram_list).alias("bigram"),
        )
        .select(
            id_col,
            "is_t",
            (_bucket_hash(F.col("bigram")) % F.lit(num_buckets)).alias("bucket"),
        )
        .groupBy(id_col, "is_t", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_bucket_stats(feats: DataFrame) -> DataFrame:
    """DSIR stage 2 — the per-bucket model counts ``(bucket, c_raw,
    c_t)``: ≤ num_buckets rows, a pure commutative MONOID (integer
    sums), which is exactly what makes streaming maintenance possible —
    per-batch stats merge by cell-wise addition into the corpus stats
    (``streaming.sinks.dsir_maintenance_sink``)."""
    return feats.groupBy("bucket").agg(
        F.sum("cnt").alias("c_raw"),
        F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(F.lit(0))).alias("c_t"),
    )


def merge_dsir_stats(states: "Sequence[DataFrame]") -> DataFrame:
    """Merge per-slice DSIR bucket stats by cell-wise sum — the monoid
    op for the maintenance sink. Associative and commutative by
    construction; ≤ num_buckets output rows."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(
        F.sum("c_raw").alias("c_raw"), F.sum("c_t").alias("c_t")
    )


def dsir_score(
    feats: DataFrame,
    stats: DataFrame,
    k: float = 0.5,
    num_buckets: int = 1024,
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR stage 3 — score docs' feature counts against a stats table
    (freshly computed OR read from the maintenance sink's state): add-k
    smoothed log ratios per bucket, Σ cnt·lr per doc. ``stats`` is
    O(num_buckets) → both joins broadcast; scoring NEW docs against a
    maintained corpus model costs one feature pass over the new docs
    only — the no-corpus-re-scan contract.

    The stats are densified onto the full bucket spine first (zeros for
    buckets the model never saw): in the batch path that's a no-op
    (feats only contain observed buckets), but NEW docs scored against
    a maintained state can hit unseen buckets, whose add-k ratio
    ln(k/(t_tot+kb)) − ln(k/(r_tot+kb)) must apply — an inner join
    against sparse stats would silently drop those features instead.
    The spine is ≤ num_buckets rows; everything stays broadcast-sized.
    """
    spine = stats.sparkSession.range(num_buckets).select(F.col("id").alias("bucket"))
    stats = spine.join(stats, "bucket", "left").select(
        "bucket",
        F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
    )
    totals = stats.agg(F.sum("c_raw").alias("r_tot"), F.sum("c_t").alias("t_tot"))
    kb = F.lit(float(k) * num_buckets)
    lr = F.log((F.col("c_t") + F.lit(k)) / (F.col("t_tot") + kb)) - F.log(
        (F.col("c_raw") + F.lit(k)) / (F.col("r_tot") + kb)
    )
    ratios = stats.crossJoin(F.broadcast(totals)).select("bucket", lr.alias("lr"))
    return (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_features"),
            F.round(F.sum(F.col("cnt") * F.col("lr")), 6).alias("log_importance"),
        )
    )


def winnow_match_pairs(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document match candidates via shared Winnowing
    fingerprints — the pair-discovery MOSS actually runs: two docs
    sharing ≥ ``min_shared`` selected fingerprints very likely share
    long verbatim runs, at ~2/(w+1) of the cost of comparing full
    gram sets.

    Same grid-free guarantee as ``winnow_fingerprints`` (any shared
    k+w−1-token run yields ≥1 shared fingerprint — no stride
    alignment condition, the advantage over substring_dup_stats'
    grid), composed into the standard bucketed pair join: explode
    per-doc fingerprints (distinct by construction), self-join on the
    fingerprint value, count per pair. Fingerprint selectivity keeps
    buckets small the way LSH bands do; a hot fingerprint (shared
    boilerplate) produces k² pairs — same hazard and same mitigation
    as the shingle join (cap via distinct-doc frequency upstream if a
    corpus shows it).
    """
    # EMPTY docs are excluded from the pair join: the short-doc
    # convention gives every empty text the same constant md5('')
    # fingerprint, which with min_shared=1 would pair all m empty docs
    # into m²/2 guaranteed-hot-bucket candidates — empty-copy dedup
    # belongs to exact_dedup, not run matching.
    #
    # explode_OUTER + post-filter, not explode — load-bearing: explode
    # makes InferFiltersFromGenerate add `size(fps) > 0`, which
    # predicate pushdown then drives BELOW the staged projections,
    # re-inlining the full nested gram/window tree into a filter that
    # runs per input row on the pre-repartition scan task: the exact
    # O(n_grams²)-per-doc recompute the staged frame exists to prevent,
    # single-threaded (measured: 30+ s at ANY sf, 1-task stage).
    # explode_outer infers nothing; the isNotNull filter references the
    # GENERATED attribute, which cannot be pushed below its Generate.
    # Semantics are identical: fps always has ≥1 non-null element here.
    toks_nonempty = F.size(tokenize(F.coalesce(F.col(text_col), F.lit("")))) > 0
    exploded = (
        _winnow_fp_frame(df.filter(toks_nonempty), id_col, text_col, k, w)
        .select(F.col(id_col), F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    a = exploded.select(F.col(id_col).alias("doc_a"), "fp")
    b = exploded.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# --- Unicode script / charset profile --------------------------------

# Script blocks counted by script_profile. Each class is a single
# regex character class evaluated in the Java∩RE2 dialect subset (the
# pii_scrub discipline), so DuckDB replays the counts verbatim.
SCRIPT_CLASSES: "list[tuple[str, str]]" = [
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("cjk", "[\\x{4E00}-\\x{9FFF}]"),
    ("kana", "[\\x{3040}-\\x{30FF}]"),
    ("cyrillic", "[\\x{0400}-\\x{04FF}]"),
    ("arabic", "[\\x{0600}-\\x{06FF}]"),
    ("space", "[ \\t\\n\\r]"),
]
_LETTER_SCRIPTS = ("latin", "cjk", "kana", "cyrillic", "arabic")
_ASCII_CLASS = "[\\x{0000}-\\x{007F}]"


def script_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc Unicode script/charset mix — the pre-langid signal of
    CCNet-style curation (script detection gates which stopword lists
    ``language_id`` even votes with, and mixed-script text is a
    classic spam/injection marker):

    - one ``<class>_ct`` count per ``SCRIPT_CLASSES`` entry (characters
      matching the block), plus ``other_ct`` (everything else) and
      ``n_chars``;
    - ``nonascii_frac`` — fraction of characters outside U+0000-7F
      (0.0 for empty docs);
    - ``dominant_script`` — argmax over the letter-script counts,
      ties to the earlier ``SCRIPT_CLASSES`` entry, ``'none'`` when
      every letter count is 0;
    - ``mixed_script`` — ≥2 letter scripts present (the spam flag).

    Counts are length differences under ``regexp_replace`` (NULL text ≡
    empty), so the whole profile is one map-side projection: no
    shuffle, no UDF, and bit-identical BIGINT counts cross-engine.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    counts = {
        name: (n - F.length(F.regexp_replace(t, pat, ""))).cast("long")
        for name, pat in SCRIPT_CLASSES
    }
    ascii_ct = n - F.length(F.regexp_replace(t, _ASCII_CLASS, ""))
    known = None
    for name, _ in SCRIPT_CLASSES:
        known = counts[name] if known is None else known + counts[name]

    # argmax over letter scripts: entry i wins when its count is > 0,
    # strictly beats every EARLIER entry, and is >= every LATER entry
    # — exactly one winner, ties to the earlier SCRIPT_CLASSES entry
    dom_expr = F.lit("none")
    for i, name in reversed(list(enumerate(_LETTER_SCRIPTS))):
        cond = counts[name] > F.lit(0)
        for j, other in enumerate(_LETTER_SCRIPTS):
            if j < i:
                cond = cond & (counts[name] > counts[other])
            elif j > i:
                cond = cond & (counts[name] >= counts[other])
        dom_expr = F.when(cond, F.lit(name)).otherwise(dom_expr)

    present = None
    for name in _LETTER_SCRIPTS:
        flag = F.when(counts[name] > 0, F.lit(1)).otherwise(F.lit(0))
        present = flag if present is None else present + flag

    return ensure_parallelism(df).select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        *[counts[name].alias(f"{name}_ct") for name, _ in SCRIPT_CLASSES],
        (n.cast("long") - known).alias("other_ct"),
        F.when(n == 0, F.lit(0.0))
        .otherwise((n - ascii_ct).cast("double") / n.cast("double"))
        .alias("nonascii_frac"),
        dom_expr.alias("dominant_script"),
        (present >= 2).alias("mixed_script"),
    )


def trigram_backoff_surprisal(
    df: DataFrame,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Trigram LM with STUPID BACKOFF (Brants et al. 2007, "Large
    Language Models in Machine Translation") scored on a HELD-OUT
    split — the top rung of the surprisal ladder (unigram →
    add-k bigram → backoff trigram):

        S(w|u,v) = c(uvw)/c(uv)            if c(uvw) > 0
                 = α · S(w|v)              else
        S(w|v)   = c(vw)/c(v)              if c(vw) > 0
                 = α · S(w)                else
        S(w)     = c(w)/N                  if c(w) > 0
                 = 1/N                     else (unseen-token floor)

    The model trains on EVEN doc ids and scores ODD doc ids (the
    held-out shape a real CCNet-style pipeline runs — scoring the
    training corpus against itself would make c(uvw) ≥ 1 everywhere
    and the backoff dead code). Output per scored doc:
    ``(doc_id, n_trigrams, tri_hits, bi_hits, uni_hits, oov_hits,
    surprisal)`` — the hit-level counts hash-verify exactly WHERE the
    backoff fired, and ``surprisal = avg(−ln S)`` rounded to 6 dp
    (the bigram_surprisal float discipline). Docs with <3 tokens emit
    no row.

    Scale shape: three train-side count aggs (vocab-sized tables), a
    1-row totals broadcast, and count joins back onto the exploded
    held-out trigram stream — the bigram_surprisal shuffle shape one
    level up; at 100 TB prune the count tables with a min-count and
    broadcast them (Brants et al.'s own production recipe)."""
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    base = ensure_parallelism(df).select(F.col(id_col), toks.alias("t"), n.alias("n"))
    train = base.filter(F.col(id_col) % 2 == 0)
    test = base.filter(F.col(id_col) % 2 == 1)

    def grams(src: DataFrame, width: int, out: str) -> DataFrame:
        lst = F.transform(
            F.sequence(F.lit(1), F.col("n") - (width - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, width)),
        )
        return src.filter(F.col("n") >= width).select(
            F.col(id_col), F.explode(lst).alias(out)
        )

    uni = grams(train, 1, "w").groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    tot = uni.agg(F.sum("cw").cast("long").alias("n_tok"))
    bi = grams(train, 2, "bg").groupBy("bg").agg(F.count(F.lit(1)).alias("cbg"))
    tri = grams(train, 3, "tg").groupBy("tg").agg(F.count(F.lit(1)).alias("ctg"))

    ts = grams(test, 3, "tg")
    parts = F.split(F.col("tg"), " ")
    ts = ts.select(
        id_col,
        "tg",
        F.concat_ws(" ", parts.getItem(0), parts.getItem(1)).alias("uv"),
        F.concat_ws(" ", parts.getItem(1), parts.getItem(2)).alias("vw"),
        parts.getItem(1).alias("v"),
        parts.getItem(2).alias("w"),
    )
    scored = (
        ts.join(tri, "tg", "left")
        .join(bi.select(F.col("bg").alias("uv"), F.col("cbg").alias("cuv")), "uv", "left")
        .join(bi.select(F.col("bg").alias("vw"), F.col("cbg").alias("cvw")), "vw", "left")
        .join(uni.select(F.col("w").alias("v"), F.col("cw").alias("cv")), "v", "left")
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(tot))
    )
    a = F.lit(alpha)
    nn = F.col("n_tok").cast("double")
    s = (
        F.when(
            F.col("ctg").isNotNull(),
            F.col("ctg").cast("double") / F.col("cuv").cast("double"),
        )
        .when(
            F.col("cvw").isNotNull(),
            a * (F.col("cvw").cast("double") / F.col("cv").cast("double")),
        )
        .when(F.col("cw").isNotNull(), a * (a * (F.col("cw").cast("double") / nn)))
        .otherwise(a * (a * (F.lit(1.0) / nn)))
    )
    lvl = (
        F.when(F.col("ctg").isNotNull(), F.lit(3))
        .when(F.col("cvw").isNotNull(), F.lit(2))
        .when(F.col("cw").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        scored.select(F.col(id_col), s.alias("s"), lvl.alias("lvl"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.sum((F.col("lvl") == 3).cast("long")).cast("long").alias("tri_hits"),
            F.sum((F.col("lvl") == 2).cast("long")).cast("long").alias("bi_hits"),
            F.sum((F.col("lvl") == 1).cast("long")).cast("long").alias("uni_hits"),
            F.sum((F.col("lvl") == 0).cast("long")).cast("long").alias("oov_hits"),
            F.round(F.avg(-F.log(F.col("s"))), 6).alias("surprisal"),
        )
    )
