"""Raw-log ingestion: .txt / .gz log files → the tokenized input table.

Covers the reference's source operators (SURVEY.md §2.1): S1 text source,
S2 gzip source (Spark reads .gz text natively — non-splittable, one task
per gz file, exactly like the reference's streaming gunzip at
extractFiles.go:103-115), S3 format gate (.txt/.gz only,
extractFiles.go:100-102).

A user of the reference uploads a raw log + picks a bucket(=platform);
here: `ingest_text_logs(spark, path, source=...)` produces the
(doc_id, tokens, n_tok, source) table the engine runs on, plus the vocab.

Line ordinals: the reference's line number is the line's position in the
file (strings.Split order). Spark's text source yields rows in file order
within each split and orders splits by file offset; a per-split count +
prefix-offset + intra-split rank reproduces the global ordinal without any
per-row Python (see ingest_text_logs).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radar_log_parser_spark.codec import Vocab
from radar_log_parser_spark.session import local_frame

_ALLOWED_EXT = (".txt", ".gz")


def _format_gate(path: str) -> None:
    ext = os.path.splitext(path)[1]
    if ext not in _ALLOWED_EXT:
        # reference: "Invalid Format" (extractFiles.go:101)
        raise ValueError(f"Invalid Format: {path!r} — only .txt and .gz accepted")
    # the line-ordinal contract below relies on split ordering WITHIN one
    # regular file; a glob/directory/multi-file path has no defined
    # cross-file line order (the reference ingests exactly one uploaded
    # file too, extractFiles.go:100-115) — reject instead of misnumbering
    if not os.path.isfile(path):
        raise ValueError(
            f"Invalid Format: {path!r} is not a single regular file — the "
            f"line ordinal is defined per uploaded file (pass files one at "
            f"a time with distinct file_no)"
        )


# Log-token vocabularies are template-bounded (format strings × small value
# alphabets), but open-domain text is NOT — refuse to collect an unbounded
# set to the driver instead of silently OOM-ing at scale.
MAX_VOCAB = 5_000_000


def build_vocab(lines_df: DataFrame) -> Vocab:
    """Corpus vocabulary: sorted distinct whitespace tokens (+ chars).
    One distinct-aggregation pass; guarded by a distinct-count so the
    driver collect fails LOUDLY if the corpus isn't vocabulary-bounded."""
    distinct = lines_df.select(F.explode(F.split("value", " ")).alias("w")).distinct()
    n = distinct.count()
    if n > MAX_VOCAB:
        raise ValueError(
            f"corpus has {n:,} distinct tokens (> {MAX_VOCAB:,}): not a "
            "template-bounded log vocabulary — supply a pre-built vocab "
            "(e.g. a trained tokenizer's) instead of collecting one"
        )
    words = [r["w"] for r in distinct.collect()]
    chars = sorted({c for w in words for c in w})
    all_tokens = sorted(set(words) | set(chars))
    return Vocab({t: i for i, t in enumerate(all_tokens)}, tuple(all_tokens))


def ingest_text_logs(
    spark: SparkSession,
    path: str,
    source: str,
    vocab: Vocab | None = None,
    file_no: int = 0,
) -> tuple[DataFrame, Vocab]:
    """One log file (.txt or .gz) → input-table rows for `source`.

    Returns (df, vocab) where df has exactly the input_hint schema and
    doc_id encodes the file-order line ordinal."""
    _format_gate(path)
    lines = spark.read.text(path)
    if vocab is None:
        vocab = build_vocab(lines)

    vocab_b = spark.sparkContext.broadcast(vocab.token_to_id)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
            T.StructField("n_tok", T.IntegerType(), False),
            T.StructField("source", T.StringType(), False),
        ]
    )

    # File-order ordinal (the reference's strings.Split index), computed
    # DataFrame-native (r3 used rdd.zipWithIndex — the repo's last per-row
    # Python path): Spark's text source yields rows in file order within
    # each split and numbers splits in file-offset order, so
    # monotonically_increasing_id() is ordered WITHIN a split and split ids
    # rank splits. Pass 1 counts rows per split (a tiny aggregate: one row
    # per split); the driver turns counts into per-split starting offsets
    # (#splits-sized, never row-scaled); pass 2 ranks within the split and
    # adds the broadcast offset. No Python touches a row.
    #
    # Both passes MUST observe the same (split_id, mid) assignment, but
    # lazily they are two separate jobs re-planning the text scan — a
    # session-config change between them (or any future multi-file path)
    # could silently re-split and misnumber lines (ADVICE r4). Materialize
    # the assignment ONCE (eager localCheckpoint) so the counts and the
    # window rank read the identical partitioning by construction; the
    # reference caps uploads at 10 MiB (extractFiles.go), so the
    # materialized frame is small by contract. _format_gate already pins
    # the input to a single regular file (split ordering is only defined
    # within one file).
    with_split = lines.select(
        "value",
        F.spark_partition_id().alias("split_id"),
        F.monotonically_increasing_id().alias("mid"),
    ).localCheckpoint(eager=True)
    counts = sorted(
        (r["split_id"], r["cnt"])
        for r in with_split.groupBy("split_id").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for sid, cnt in counts:
        offsets.append((sid, acc))
        acc += cnt
    off_df = local_frame(spark, offsets or [(0, 0)], "split_id int, off long")
    from pyspark.sql import Window as W

    w = W.partitionBy("split_id").orderBy("mid")
    ordered = (
        with_split.join(F.broadcast(off_df), "split_id")
        .select(
            "value",
            (F.col("off") + F.row_number().over(w) - 1).alias("line_no"),
        )
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t2i = vocab_b.value

        def enc(text: str) -> list[int]:
            out: list[int] = []
            for w in text.split(" "):
                tid = t2i.get(w)
                if tid is not None:
                    out.append(tid)
                    continue
                # char fallback — but FAIL FAST on a char the vocab lacks:
                # silently dropping it would mangle the decoded text and
                # defeat downstream regex matching (codec round-trip claim)
                try:
                    out.extend(t2i[c] for c in w)
                except KeyError as e:
                    raise ValueError(
                        f"token {w!r} contains char {e.args[0]!r} absent "
                        "from the supplied vocab — extend the vocab or "
                        "rebuild it from this corpus (vocab reuse across "
                        "unrelated files is not round-trippable)"
                    ) from None
            return out

        for pdf in batches:
            if not len(pdf):
                continue
            toks = [enc(v) for v in pdf["value"].values]
            yield pd.DataFrame(
                {
                    "doc_id": [
                        f"{source}-{file_no:04d}-{int(n):06d}" for n in pdf["line_no"].values
                    ],
                    "tokens": toks,
                    "n_tok": [len(t) for t in toks],
                    "source": source,
                }
            )

    return ordered.mapInPandas(encode, schema=out_schema), vocab
