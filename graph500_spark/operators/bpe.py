"""Distributed BPE (byte-pair-encoding) vocabulary induction — the
subword-tokenizer training step of an LLM data pipeline (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units"), expressed Spark-first.

Scale shape. Classic BPE trains on the WORD-FREQUENCY table, not the
raw corpus: the corpus is scanned once (tokenize → groupBy word → sum
count — one shuffle over the data), and every subsequent merge
iteration runs on the distinct-word table, whose size is the
vocabulary (10⁵–10⁸ rows at 100 TB — comfortably distributed, and
vanishing relative to the corpus). Per iteration:

  1. pair counting — explode adjacent symbol pairs of each word
     (pure Column algebra: split / slice / transform / explode) and
     sum word counts per pair (map-side partial agg, one small
     shuffle at vocabulary scale);
  2. argmax — the single best (count desc, pair asc — deterministic
     tiebreak) pair is a 1-row collect, the same bounded
     driver-logic budget plans/runner.py uses for root sampling;
  3. merge application — one regexp_replace projection over the word
     table. The pattern anchors both symbols on token boundaries
     with lookarounds, so Java's left-to-right non-overlapping
     replaceAll reproduces BPE's left-to-right merge semantics
     exactly (``a a a a`` + merge (a,a) → ``aa aa``, not ``aa a a``).

No Python UDFs anywhere — tokenization, pair explosion, and merge
application are all JVM-side whole-stage-codegen expressions.
localCheckpoint every few merges bounds lineage depth, as in the
iterative graph operators (operators/pregel.py discipline).

After training, the word table holds the final segmentation of every
distinct word, so APPLYING the tokenizer to the corpus is a broadcast
join (word → its subword count / pieces) — no per-document merge
replay. That asymmetry (train on vocab, apply by lookup) is what
makes BPE viable at corpus scale.

The merge sequence IS expressible as one SQL statement for a FIXED
merge count — the same unrolled-CTE discipline that oracles
markov_stationary (N supersteps) and mmr_diverse_topk (k greedy
steps): bpe_learn_sql / bpe_token_counts_sql emit one CTE chain per
merge round (pair explode+count → 1-row argmax → merge application),
so the driver gate hash-checks both entries (round 10; previously
rows-only). DuckDB's RE2 regex has no lookarounds, so the oracle
applies merges with LITERAL left-to-right replace over a
space-doubled segmentation: doubling delimiters makes every token
carry its own spaces, ' L  R ' → ' LR ' is non-overlapping and
boundary-exact, then doubles collapse back (validated against the
same pure-Python reference as the Spark side in tests/test_bpe.py).

Reference scope: /root/reference has no text surface (integer graph
code only — mpi/main.cc); this module is engine capability beyond
parity, part of the training-data-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph500_spark.operators.text import TOKEN_REGEX
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.plantrunc import truncate_plan

END_OF_WORD = "</w>"


def _quote_regex(sym: str) -> str:
    """Literal-quote a symbol for a Java regex (\\Q…\\E is safe for
    every symbol BPE can produce — alnum runs plus the ``</w>``
    marker; none contain \\E)."""
    return "\\Q" + sym + "\\E"


def merge_pattern(left: str, right: str) -> str:
    """Boundary-anchored pattern for one merge: both symbols must be
    complete space-delimited tokens. Lookarounds (not consumed
    context) keep Java's non-overlapping replaceAll scan aligned
    with BPE's left-to-right merge order on runs."""
    return (
        "(?<=^| )" + _quote_regex(left) + " " + _quote_regex(right) + "(?=$| )"
    )


def word_frequencies(docs: DataFrame) -> DataFrame:
    """[word, wcount] — the corpus's word-frequency table (lowercased
    TOKEN_REGEX tokens), the single corpus-wide pass BPE trains on."""
    return (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOKEN_REGEX}', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )


def _spaced_symbols(word_col: str = "word") -> F.Column:
    """Initial segmentation: one symbol per character plus the
    end-of-word marker, space-joined (symbols are alnum, so the space
    is an unambiguous delimiter)."""
    return F.concat_ws(
        " ",
        F.expr(f"split({word_col}, '')"),
        F.lit(END_OF_WORD),
    )


def bpe_learn(
    spark: SparkSession,
    docs: DataFrame,
    num_merges: int = 30,
    min_count: int = 2,
    checkpoint_every: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Learn up to ``num_merges`` BPE merges from the corpus.

    Returns (merges, words):
      merges [rank, left, right, merged, pair_count] — the learned
        merge table in application order;
      words [word, wcount, syms] — every distinct word with its FINAL
        space-joined segmentation (the apply-side lookup table).

    Stops early when the best pair's count drops below ``min_count``
    (Sennrich's convergence condition — merging hapax pairs adds
    vocabulary without compression).
    """
    words = (
        word_frequencies(docs)
        .select("word", "wcount", _spaced_symbols().alias("syms"))
        .transform(truncate_plan)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    # AQE scoped OFF for the merge loop (guide §1.2 step 1): each
    # round is one vocabulary-scale aggregate finished by a 1-row
    # TakeOrdered, but AQE materializes the aggregate's exchange as
    # its own job before planning the take — two driver barriers per
    # round instead of one, and nothing for AQE to re-optimize (the
    # input is the distinct-word table at EVERY scale, never the
    # corpus; the plan is the same shape each round). With AQE off the
    # loop's shuffles also lose AQE's coalescing, so the width is
    # scoped down with it, derived from the word-table volume the
    # driver measures once (the s24 ~2M-rows-per-partition rule, pair
    # rows ≈ a few × distinct words) — amortized over every round.
    # Both settings are restored when the scope exits.
    n_words = words.count()
    loop_sp = max(
        4,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            n_words // 500_000 + 4,
        ),
    )
    loop_confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": loop_sp,
    }
    with scoped_session_confs(spark, loop_confs):
        for rank in range(num_merges):
            pairs = (
                words.select(
                    F.expr(
                        "transform(slice(split(syms, ' '), 1,"
                        " size(split(syms, ' ')) - 1),"
                        " (s, i) -> concat(s, ' ', split(syms, ' ')[i + 1]))"
                    ).alias("prs"),
                    "wcount",
                )
                .select(F.explode("prs").alias("pair"), "wcount")
                .groupBy("pair")
                .agg(F.sum("wcount").alias("pair_count"))
            )
            best = pairs.orderBy(
                F.col("pair_count").desc(), F.col("pair")
            ).limit(1).collect()
            if not best or best[0]["pair_count"] < min_count:
                break
            pair, pair_count = best[0]["pair"], int(best[0]["pair_count"])
            left, right = pair.split(" ", 1)
            merged = left + right
            merges.append((rank, left, right, merged, pair_count))
            words = words.withColumn(
                "syms",
                F.regexp_replace(
                    "syms", merge_pattern(left, right), merged
                ),
            )
            if (rank + 1) % checkpoint_every == 0:
                words = words.transform(truncate_plan)
        words = words.transform(truncate_plan)

    merges_df = spark.createDataFrame(
        merges,
        "rank: int, left: string, right: string, merged: string,"
        " pair_count: long",
    )
    return merges_df, words


def bpe_token_counts(
    docs: DataFrame, words: DataFrame
) -> DataFrame:
    """[doc_id, n_tokens, n_bpe_tokens] — per-document word and
    subword counts under the trained segmentation.

    Apply-side plan: explode the document's words and broadcast-join
    the word→subword-count lookup (the trained word table) — no merge
    replay over the corpus. At 100 TB the lookup outgrows broadcast
    and AQE degrades to a shuffle join on the word key; either way
    the corpus is scanned once."""
    lookup = words.select(
        "word",
        F.size(F.split("syms", " ")).cast("long").alias("n_sub"),
    )
    doc_words = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_REGEX}', 0)")
        ).alias("word"),
    )
    return (
        doc_words.join(F.broadcast(lookup), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )


def bpe_vocab(words: DataFrame) -> DataFrame:
    """[symbol, freq] — the trained subword vocabulary with corpus
    frequencies (final symbols weighted by word counts)."""
    return (
        words.select(
            F.explode(F.split("syms", " ")).alias("symbol"), "wcount"
        )
        .groupBy("symbol")
        .agg(F.sum("wcount").alias("freq"))
    )


def _bpe_rounds_sql(num_merges: int, min_count: int) -> str:
    """The shared CTE chain: w0 (initial segmentation of the
    word-frequency table) through w{N} (final segmentation), plus one
    b{r} best-pair CTE per round. Each round is vocabulary-scale.

    Merge application (literal, no regex — RE2 lacks lookarounds):
    double every delimiter so each token owns a space on both sides,
    replace ' L  R ' with ' LR ' (DuckDB replace scans left-to-right
    non-overlapping, resuming AFTER the replacement — exactly BPE's
    merge order on runs), collapse doubles, trim. The CASE guard
    reproduces bpe_learn's early stop: once the best pair's count
    drops below min_count nothing changes, so every later round sees
    the same sub-threshold best and also no-ops."""
    parts = [
        "WITH wf AS MATERIALIZED (SELECT word,"
        " CAST(COUNT(*) AS BIGINT) AS wcount FROM (SELECT"
        f" unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))"
        " AS word FROM documents) GROUP BY word),"
        " w0 AS MATERIALIZED (SELECT word, wcount, concat_ws(' ',"
        " array_to_string(string_split(word, ''), ' '),"
        f" '{END_OF_WORD}') AS syms FROM wf)"
    ]
    for r in range(1, num_merges + 1):
        prev = f"w{r-1}"
        parts.append(
            f"b{r} AS MATERIALIZED (SELECT pair,"
            " CAST(SUM(wcount) AS BIGINT) AS pc FROM (SELECT wcount,"
            " unnest(list_transform(range(1,"
            f" len(string_split(syms, ' '))), i ->"
            f" string_split(syms, ' ')[i] || ' ' ||"
            f" string_split(syms, ' ')[i + 1])) AS pair FROM {prev})"
            " GROUP BY pair ORDER BY pc DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT word, wcount,"
            f" CASE WHEN b.pc >= {min_count} THEN"
            " trim(replace(replace(replace(' ' || syms || ' ',"
            " ' ', '  '),"
            # in the doubled string the pair's interior gap is TWO
            # spaces: search ' L  R ', insert ' LR '
            " ' ' || replace(b.pair, ' ', '  ') || ' ',"
            " ' ' || replace(b.pair, ' ', '') || ' '),"
            " '  ', ' '))"
            f" ELSE syms END AS syms FROM {prev}, b{r} b)"
        )
    return ", ".join(parts)


def bpe_learn_sql(num_merges: int = 30, min_count: int = 2) -> str:
    """DuckDB mirror of bpe_learn's merge table: [rank, left, right,
    merged, pair_count] in application order, early-stopped rows
    filtered exactly as the driver loop breaks."""
    rounds = _bpe_rounds_sql(num_merges, min_count)
    rows = " UNION ALL ".join(
        f"SELECT CAST({r - 1} AS INTEGER) AS rank,"
        f" split_part(pair, ' ', 1) AS \"left\","
        f" split_part(pair, ' ', 2) AS \"right\","
        f" replace(pair, ' ', '') AS merged,"
        f" pc AS pair_count FROM b{r} WHERE pc >= {min_count}"
        # the merge at rank r happened only if no EARLIER round
        # stopped; sub-threshold rounds no-op, so pc is monotone
        # non-recoverable and the per-row filter is exact
        for r in range(1, num_merges + 1)
    )
    return f"{rounds} SELECT * FROM ({rows}) ORDER BY rank"


def bpe_token_counts_sql(num_merges: int = 30, min_count: int = 2) -> str:
    """DuckDB mirror of bpe_token_counts over the trained
    segmentation: [doc_id, n_tokens, n_bpe_tokens]."""
    rounds = _bpe_rounds_sql(num_merges, min_count)
    return (
        f"{rounds},"
        f" lookup AS (SELECT word,"
        f" CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_sub"
        f" FROM w{num_merges}),"
        " dw AS (SELECT doc_id,"
        f" unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))"
        " AS word FROM documents)"
        " SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,"
        " CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens"
        " FROM dw JOIN lookup USING (word) GROUP BY doc_id"
    )


def bpe_vocab_sql(num_merges: int = 30, min_count: int = 2) -> str:
    """DuckDB mirror of bpe_vocab over the trained segmentation:
    [symbol, freq]."""
    rounds = _bpe_rounds_sql(num_merges, min_count)
    return (
        f"{rounds}"
        " SELECT symbol, CAST(SUM(wcount) AS BIGINT) AS freq FROM ("
        " SELECT unnest(string_split(syms, ' ')) AS symbol, wcount"
        f" FROM w{num_merges}) GROUP BY symbol"
    )


def bpe_fertility_by_lang(docs: DataFrame, words: DataFrame) -> DataFrame:
    """[lang, n_docs, n_tokens, n_bpe_tokens, fertility_micro] — mean
    subwords per word under the trained segmentation, by language: THE
    tokenizer-equity readout (Petrov et al. 2023, "Language Model
    Tokenizers Introduce Unfairness") a multilingual pipeline checks
    before fixing a vocabulary — languages the merges underserve pay
    more tokens per word for the same text.

    Same apply-side plan as bpe_token_counts (broadcast word→n_sub
    lookup, corpus scanned once), aggregated per lang instead of per
    doc; fertility_micro is one rounded double division per lang
    row."""
    lookup = words.select(
        "word",
        F.size(F.split("syms", " ")).cast("long").alias("n_sub"),
    )
    doc_words = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_REGEX}', 0)")
        ).alias("word"),
    )
    return (
        doc_words.join(F.broadcast(lookup), "word")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_sub") * 1_000_000 / F.count(F.lit(1)).cast("double")
            )
            .cast("long")
            .alias("fertility_micro"),
        )
    )


def bpe_fertility_by_lang_sql(
    num_merges: int = 30, min_count: int = 2
) -> str:
    rounds = _bpe_rounds_sql(num_merges, min_count)
    return (
        f"{rounds},"
        " lookup AS (SELECT word,"
        f" CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_sub"
        f" FROM w{num_merges}),"
        " dw AS (SELECT doc_id, lang,"
        f" unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))"
        " AS word FROM documents)"
        " SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,"
        " CAST(COUNT(*) AS BIGINT) AS n_tokens,"
        " CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens,"
        " CAST(round(SUM(n_sub) * 1000000 / CAST(COUNT(*) AS DOUBLE))"
        " AS BIGINT) AS fertility_micro"
        " FROM dw JOIN lookup USING (word) GROUP BY lang"
    )
