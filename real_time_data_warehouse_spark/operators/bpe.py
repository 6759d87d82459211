"""BPE tokenizer training — the first K corpus-trained merge rules.

The one LLM-pipeline step between raw text and token counts that the
rest of the t-family assumes already happened: training the tokenizer
itself. Public algorithm (Sennrich et al. 2016, and what the
HuggingFace/SentencePiece BPE trainers implement): represent the
corpus as a WORD-FREQUENCY DICTIONARY (the standard optimization —
pair statistics only depend on the dictionary, which is Zipf-bounded
and orders of magnitude smaller than the corpus), start each word as
its character sequence, and repeatedly (a) count adjacent symbol
pairs weighted by word frequency, (b) take the most frequent pair
(deterministic tie-break: count DESC, left ASC, right ASC), (c)
replace its left-greedy non-overlapping occurrences in every word
with the concatenated symbol. The output is the merge table — the
training artifact a tokenizer ships.

Spark shape: the dictionary build is the only scan of the corpus
(tokenize → explode → groupBy word). Each round's pair count is a
map-side array transform + one groupBy (l, r); the argmax is a
LIMIT-1 collect — a bounded driver artifact exactly like the trained
IVF centroids (one (l, r, cnt) row per round); applying the merge is
a pure map-side ``F.aggregate`` fold over each word's symbol array —
no shuffle — with localCheckpoint per round so lineage stays flat
(the d6/g1 discipline). At 100 TB the dictionary is |vocab| rows
(~10^7 for web text) — the rounds never touch the corpus again.

Exactness: all counts are integer sums (associative), the tie-break
is total, and symbols are ASCII token substrings (binary collation
agrees between engines), so the K merge rows are engine-exact. The
oracle unrolls the K rounds as MATERIALIZED CTEs in ROW form
(word, pos, sym) where left-greedy application is the run-parity
window trick: within each maximal run of consecutive pair matches,
keep the odd-indexed ones (a kept merge at pos consumes pos+1, which
suppresses the next overlapping match — provably identical to the
left-to-right fold because merged = left||right can never equal
``left`` or ``right``, so merges cannot cascade within a round).

If the dictionary exhausts (every word a single symbol) before K
rounds, remaining rounds emit nothing — mirrored by the oracle, whose
empty best{k} propagates empty frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from real_time_data_warehouse_spark.artifacts import artifact
from real_time_data_warehouse_spark.functions.text import tokenize, tokenize_sql
from real_time_data_warehouse_spark.registry import register
from real_time_data_warehouse_spark.tables import Tables

BPE_ROUNDS = 8

_MERGE_SCHEMA = StructType(
    [
        StructField("merge_rank", IntegerType(), False),
        StructField("merge_left", StringType(), False),
        StructField("merge_right", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def word_dictionary(documents: DataFrame) -> DataFrame:
    """(word, freq): the corpus word-frequency dictionary."""
    return (
        documents.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _adjacent_pairs(syms: str) -> F.Column:
    c = F.col(syms)
    return F.when(
        F.size(c) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(c) - 1),
            lambda i: F.struct(
                F.element_at(c, i).alias("l"),
                F.element_at(c, i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _apply_merge(syms: str, left: str, right: str) -> F.Column:
    """Left-greedy non-overlapping replacement of (left, right) →
    left||right, as a map-side fold. After a merge the accumulator's
    last element is left||right ≠ left, so overlapping matches are
    naturally suppressed — the textbook left-to-right semantics."""
    merged = left + right
    return F.aggregate(
        F.col(syms),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _char_dictionary(documents: DataFrame) -> DataFrame:
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, F.lit(1)),
    )
    return (
        word_dictionary(documents)
        .select("word", "freq", chars.alias("syms"))
        .localCheckpoint(eager=True)
    )


def train_merges(
    documents: DataFrame, n_rounds: int = BPE_ROUNDS
) -> list[tuple]:
    """Run the merge loop → [(rank, left, right, merged, count)] — the
    plain-Python training artifact (no Spark objects, so it is safe to
    cache across calls within a session)."""
    dictionary = _char_dictionary(documents)
    merges: list[tuple] = []
    for rank in range(1, n_rounds + 1):
        best = (
            dictionary.select("freq", F.explode(_adjacent_pairs("syms")).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break  # dictionary fully merged — later rounds are no-ops
        left, right, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((rank, left, right, left + right, cnt))
        dictionary = dictionary.select(
            "word", "freq", _apply_merge("syms", left, right).alias("syms")
        ).localCheckpoint(eager=True)
    return merges


def trained_merges(
    spark: SparkSession, sf_dir: str, n_rounds: int = BPE_ROUNDS
) -> list[tuple]:
    """ONE training run per (session, sf_dir) feeds both t17 (the merge
    table) and t17b (corpus encoding) — a session artifact, like the
    IVF centroids. Values are plain tuples, never Spark objects."""
    return artifact(
        spark, sf_dir, f"bpe{n_rounds}",
        lambda: train_merges(Tables(spark, sf_dir).documents, n_rounds),
    )


def bpe_train_frame(
    spark: SparkSession, documents: DataFrame, n_rounds: int = BPE_ROUNDS
) -> DataFrame:
    """Train the first *n_rounds* BPE merges →
    (merge_rank, left, right, merged, pair_count)."""
    return spark.createDataFrame(
        train_merges(documents, n_rounds), _MERGE_SCHEMA
    )


def _bpe_cte_chain(n_rounds: int = BPE_ROUNDS) -> str:
    """The shared WITH-chain: words → sym0 → (pc/best/mt/ks/sym)×K.
    ``best{k}`` left-joins into the symbol stream (ON TRUE), so an
    exhausted dictionary carries sym{k} = sym{k-1} forward unchanged."""
    tok = tokenize_sql("text")
    head = f"""
        WITH toked AS (SELECT {tok} AS toks FROM documents),
        words AS MATERIALIZED (
            SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(toks) AS w FROM toked) GROUP BY w
        ),
        sym0 AS MATERIALIZED (
            SELECT word, freq, CAST(i AS INT) AS pos,
                   substr(word, CAST(i AS INT), 1) AS sym
            FROM (SELECT word, freq,
                         unnest(range(1, length(word) + 1)) AS i
                  FROM words)
        )"""
    steps = []
    for k in range(1, n_rounds + 1):
        p = f"sym{k - 1}"
        steps.append(f"""
        pc{k} AS MATERIALIZED (
            SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq, sym,
                       LEAD(sym) OVER (PARTITION BY word ORDER BY pos)
                           AS nxt
                FROM {p}
            ) WHERE nxt IS NOT NULL GROUP BY sym, nxt
        ),
        best{k} AS MATERIALIZED (
            SELECT l, r, cnt FROM pc{k} ORDER BY cnt DESC, l, r LIMIT 1
        ),
        mt{k} AS MATERIALIZED (
            -- run-parity left-greedy selection: mt flags a pair match;
            -- grp is constant inside a maximal run of consecutive
            -- matches; odd rank within the run is a kept merge start,
            -- whose successor row is consumed
            SELECT word, freq, pos, sym, l, r, mt,
                   CASE WHEN mt = 1 THEN CAST(ROW_NUMBER() OVER (
                       PARTITION BY word, grp, mt ORDER BY pos
                   ) AS BIGINT) END AS mrn
            FROM (
                SELECT word, freq, pos, sym, l, r, mt,
                       SUM(1 - mt) OVER (PARTITION BY word ORDER BY pos)
                           AS grp
                FROM (
                    SELECT s.word, s.freq, s.pos, s.sym, b.l, b.r,
                           CASE WHEN s.sym = b.l
                                 AND LEAD(s.sym) OVER (
                                     PARTITION BY s.word ORDER BY s.pos
                                 ) = b.r
                                THEN 1 ELSE 0 END AS mt
                    FROM {p} s LEFT JOIN best{k} b ON TRUE
                )
            )
        ),
        ks{k} AS MATERIALIZED (
            SELECT word, freq, pos, sym, l, r,
                   (mt = 1 AND mrn % 2 = 1) AS ks,
                   COALESCE(LAG(mt = 1 AND mrn % 2 = 1) OVER (
                       PARTITION BY word ORDER BY pos
                   ), FALSE) AS consumed
            FROM mt{k}
        ),
        sym{k} AS MATERIALIZED (
            SELECT word, freq,
                   CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
                        AS INT) AS pos,
                   CASE WHEN ks THEN l || r ELSE sym END AS sym
            FROM ks{k} WHERE NOT consumed
        )"""
        )
    return head + "," + ",".join(steps)


def _t17_oracle(n_rounds: int = BPE_ROUNDS) -> str:
    finals = "\n            UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, l AS merge_left,"
        f" r AS merge_right, l || r AS merged, cnt AS pair_count"
        f" FROM best{k}"
        for k in range(1, n_rounds + 1)
    )
    return _bpe_cte_chain(n_rounds) + f"""
        {finals}
    """


@register(
    "t17_bpe_merges",
    survey="U1,ext-text",
    doc=f"BPE tokenizer training, first {BPE_ROUNDS} merges (Sennrich "
        "2016, the HF/SentencePiece word-dictionary form): pair "
        "counts weighted by word frequency, deterministic argmax "
        "(count DESC, left, right), left-greedy merge application as "
        "a map-side array fold. Output is the merge table — the "
        "shipped tokenizer artifact. Engine-exact: integer counts, "
        "total tie-break, binary collation; the oracle unrolls the "
        "rounds with the run-parity window form of left-greedy.",
    oracle=_t17_oracle(),
)
def t17_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        trained_merges(spark, sf_dir, BPE_ROUNDS), _MERGE_SCHEMA
    )


def bpe_encode_frame(
    documents: DataFrame, merges: list[tuple]
) -> DataFrame:
    """Encode the corpus under a trained merge list →
    (doc_id, n_words, n_bpe_tokens).

    Applies the merges in rank order to the word DICTIONARY (map-side
    folds over |vocab| rows — the corpus is never re-segmented row by
    row), then joins each document's words against the per-word symbol
    count. Token-free documents survive with zero counts."""
    dictionary = _char_dictionary(documents)
    for _, left, right, _, _ in merges:
        dictionary = dictionary.select(
            "word", "freq", _apply_merge("syms", left, right).alias("syms")
        )
    seg = dictionary.select("word", F.size("syms").cast("bigint").alias("n_sym"))
    words = documents.select(
        "doc_id", F.explode(tokenize("text")).alias("word")
    )
    agg = (
        words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    return documents.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


def _t17b_oracle(n_rounds: int = BPE_ROUNDS) -> str:
    tok = tokenize_sql("text")
    return _bpe_cte_chain(n_rounds) + f""",
        wl AS MATERIALIZED (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sym
            FROM sym{n_rounds} GROUP BY word
        ),
        dw AS (
            SELECT doc_id, w AS word
            FROM (SELECT doc_id, unnest({tok}) AS w FROM documents)
        ),
        agg AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
            FROM dw JOIN wl USING (word) GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


@register(
    "t17b_bpe_encode",
    survey="U1,ext-text",
    doc="Corpus encoding under the t17-trained merges — the tokenizer "
        "lifecycle's second half (train → encode), and the real "
        "token-count a data-mixture budget should use instead of the "
        "t3 whitespace proxy. Per doc: word count and BPE token count "
        "after the K merges, computed by segmenting the word "
        "DICTIONARY once (map-side folds over |vocab| rows) and "
        "joining doc words against it — the corpus is never "
        "re-segmented row by row.",
    oracle=_t17b_oracle(),
)
def t17b_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return bpe_encode_frame(
        t.documents, trained_merges(spark, sf_dir, BPE_ROUNDS)
    )
