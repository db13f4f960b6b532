"""Inverted index — the reference engine's single end-to-end query.

Reproduces the observable semantics of ``/root/reference/src/main.cc`` as one
declarative DataFrame chain (no threads, no mutexes — Catalyst/Tungsten pick
the physical plan):

- tokenize on whitespace runs        (main.cc:73,   ``operator>>``)
- ASCII lowercase                    (main.cc:75,   ``::tolower``)
- strip every char outside ``[a-z]`` (main.cc:33-42, ``remove_non_letters``)
- drop empty words — in the reference they are bucketed under ``'\\0'`` and
  never written since only ``a..z`` files are emitted (main.cc:89 vs 132-137)
- distinct (word, doc_id) pairs — set semantics discard term frequency
  (main.cc:62-63, 78-79): a boolean index, not TF
- postings list = ascending distinct doc ids (main.cc:120-127, sort :143)
- bucket by first letter             (main.cc:132-141)
- within a letter: postings-length DESC, then word ASC (main.cc:148-156)
- render ``word:[d1 d2 ...]`` lines into ``<letter>.txt`` (main.cc:158-172)

Scale notes (100 TB corpus): ``invert`` shuffles the distinct pairs, then
``word``. Hot stopwords (``the`` appears in ~every doc — see reference golden
test_out/t.txt) make ``word`` skewed, but the pair dedup (map-side partial
aggregate, free under ``dropDuplicates``) bounds any word's pair count at
n_docs, and AQE skew handling splits oversized post-shuffle partitions.
Postings for a true stopword are O(n_docs) — at 100 TB emit ``n_docs`` via
count and keep postings only below a doc-frequency cap
(``invert_df_capped``), or store postings as bucketed parquet instead of
in-memory arrays. No driver-side collects anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_model_spark.functions.partitioning import spread_for_fanout

__all__ = [
    "normalize_token",
    "tokenize",
    "word_doc_pairs",
    "invert",
    "invert_df_capped",
    "format_output",
    "write_letter_files",
]


def normalize_token(col: Column) -> Column:
    """lowercase then strip ``[^a-z]`` — main.cc:75 then main.cc:33-42.

    Order matters: the reference lowers first, then removes non-letters, so
    ``"Don't"`` → ``dont``, ``"2024"`` → ``""``.
    """
    return F.regexp_replace(F.lower(col), "[^a-z]", "")


def tokenize(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, text)`` → ``(doc_id, word)``: one row per whitespace-delimited
    token, normalized; empty words are kept (callers drop them).

    Each line is normalized once — lowercased, then stripped of every char
    outside ``[a-z]`` and ``\\s`` — and then split on ``\\s+``, which
    mirrors C++ ``operator>>`` (main.cc:73): any run of whitespace separates
    tokens, and a leading run yields one empty token.
    This equals splitting the raw line and applying ``normalize_token`` to
    each token, because the normalization never creates, removes or moves a
    ``\\s`` char: lowercasing maps no char into or out of ``\\s``, and the
    strip keeps ``\\s``. A token that strips to nothing leaves an empty
    field between its separators, which ``\\s+`` skips and the per-token
    form emits as ``""`` — the same set once empty words are dropped. So
    the regex runs once per line, never on the exploded token column (where
    Catalyst would copy it into both the empty-word filter and the
    projection).

    Narrow op: stays inside whole-stage codegen, no shuffle — but the
    explode multiplies rows ~|tokens|×, so an under-partitioned scan is
    spread first (no-op on many-split corpora).
    """
    docs = spread_for_fanout(docs, id_col)
    line = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z\s]", "")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(line, r"\s+")).alias("word"),
    )


def word_doc_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct normalized ``(word, doc_id)`` pairs — the map-phase output.

    Matches the reference's per-file ``std::set`` dedup + global merged
    ``std::set`` (main.cc:62-63, 17, 78-96). ``dropDuplicates`` gives the
    same set semantics as a codegen ``HashAggregate`` on ``(word, doc_id)``
    with a map-side partial aggregate (the per-file combine, main.cc:62-63).
    """
    return (
        tokenize(docs, text_col, id_col)
        .filter(F.col("word") != "")  # main.cc:89 vs 132-137 — '' never output
        .select("word", "doc_id")
        .dropDuplicates(["word", "doc_id"])
    )


def invert(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full index: ``(letter, word, docs, n_docs)``.

    - ``docs`` = ascending distinct doc ids (main.cc:120-127, 143):
      ``sort_array(collect_list(...))`` over distinct pairs — the reference
      relies on an explicit post-sort too, since its insertion order is
      nondeterministic.
    - ``letter`` = first char (main.cc:88-91).
    - Row order inside a letter: ``n_docs`` DESC, ``word`` ASC
      (comparator main.cc:148-156).

    At most two exchanges, both of narrow rows: the distinct ``(word,
    doc_id)`` pairs (none when the input is already hash-partitioned on
    ``doc_id``, as ``spread_for_fanout`` leaves an under-partitioned scan),
    then ``word``. The dedup is a codegen ``HashAggregate`` that drops a
    document's repeated tokens before any array is built, so
    ``collect_list`` sees each pair once. ``collect_set`` over the raw
    tokens would save the first exchange, but it runs in an
    ``ObjectHashAggregate``, which falls back to sort-based aggregation once
    a task holds 128 keys — it would sort every task's whole token stream.
    The final order is applied per letter at write time, not as a global
    sort.
    """
    postings = (
        word_doc_pairs(docs, text_col, id_col)
        .groupBy("word")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .withColumn("n_docs", F.size("docs"))
        .withColumn("letter", F.substring("word", 1, 1))
    )
    return postings.select("letter", "word", "docs", "n_docs").orderBy(
        "letter", F.col("n_docs").desc(), F.col("word").asc()
    )


def invert_df_capped(
    docs: DataFrame,
    df_cap: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The true-stopword-scale index build the module docstring promises:
    words above a document-frequency cap keep their ``n_docs`` count but
    get NO postings array (empty string) — 'the' at 100 TB has an
    O(n_docs) postings list that no single aggregation buffer should hold.

    Two-phase shape, both word-keyed:
    1. df count over distinct pairs — purely algebraic (count, no array),
       so the partial aggregate absorbs stopword volume map-side and the
       hot key costs one long per partition, never a collected set;
    2. postings collect ONLY for under-cap words: the pair stream joins
       the under-cap word set (word-keyed shuffle join — both sides hash
       on word, AQE-managed) and ``collect_set`` runs where the result is
       bounded by df_cap by construction.
    The hot words therefore never materialize arrays anywhere in the plan
    — the cap is enforced BEFORE collection, not by truncating after.
    Output: (letter, word, docs 'd1 d2 ...'-joined, n_docs); capped words
    carry docs = ''."""
    # pairs feeds BOTH phases (df count + postings collect) and cnt feeds
    # both the under-cap filter and the final join — persist so the
    # tokenize/normalize/dedup pipeline runs once, not three times
    # (cache lifecycle: registry.py docstring)
    pairs = word_doc_pairs(docs, text_col, id_col).persist()
    cnt = pairs.groupBy("word").agg(F.count(F.lit(1)).alias("n_docs")).persist()
    under = cnt.filter(F.col("n_docs") <= df_cap).select("word")
    posted = (
        pairs.join(under, "word")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
    )
    return cnt.join(posted, "word", "left").select(
        F.substring("word", 1, 1).alias("letter"),
        "word",
        F.coalesce(
            F.array_join(F.transform("docs", lambda x: x.cast("string")), " "),
            F.lit(""),
        ).alias("docs"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def format_output(index: DataFrame) -> DataFrame:
    """``(letter, line)`` with ``line = word:[d1 d2 ...]`` — main.cc:160-170."""
    return index.select(
        "letter",
        F.concat(
            F.col("word"), F.lit(":["), F.array_join("docs", " "), F.lit("]")
        ).alias("line"),
    )


def write_letter_files(index: DataFrame, out_dir: str) -> None:
    """Write ``letter=<c>/part-*.txt`` mirroring the 26 ``<c>.txt`` sinks.

    ``repartition('letter')`` + ``sortWithinPartitions`` keeps each letter's
    required (n_docs DESC, word ASC) order inside a single output file
    (main.cc:136-172). Letter skew is real ('s' ≫ 'z'); this sink is a demo
    of the reference's file layout — hash-checked queries never depend on it.
    At 100 TB one file per letter is wrong by construction; partitioned
    parquet on ``letter`` with many files per partition is the scale path.
    """
    (
        format_output(index.repartition("letter").sortWithinPartitions(
            "letter", F.col("n_docs").desc(), F.col("word").asc()
        ))
        .write.mode("overwrite")
        .partitionBy("letter")
        .text(out_dir)
    )
