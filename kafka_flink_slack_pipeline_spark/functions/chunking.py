"""Chunking + hyperlink pairing + Slack Block Kit assembly (E1, W3, E3/D5).

Reference parity:
  E1  splitIntoBlocks(text, 2900)  — greedy line-preserving chunker
      (`Consumer/kafkaConsumer.js:74-90`), including its two quirks:
        * the length check counts `current + '\n' + line` even when
          current is '' — so an oversized FIRST line pushes an EMPTY block;
        * a trailing empty `current` is dropped (`if (current)`).
  W3  hyperlinkHeadings — pair a <300-char heading line with a bare-URL
      next line into `<url|heading>`, consuming the URL line
      (`Consumer/kafkaConsumer.js:94-115`). Sequential skip semantics.
  E3/D5  Slack Block Kit assembly: header section + one section per chunk
      (`Consumer/kafkaConsumer.js:123-140`).

All three are pure Column expressions. E1 and W3 are per-row sequential
folds — implemented with F.aggregate over the line array, which stays
JVM-side and embarrassingly parallel across rows (the fold is over ONE
document's lines; there is no cross-row state). At 100 TB this is a
narrow map stage fused with its neighbors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_BLOCK_TEXT = 2900  # Consumer/kafkaConsumer.js:74

_URL_RE = r"\Ahttps?://\S+\z"  # JS /^https?:\/\/\S+$/ as a full match


def split_into_blocks(body: Column, max_len: int = MAX_BLOCK_TEXT) -> Column:
    """E1 — greedy pack lines into blocks of <= max_len chars.

    Returns array<string> of blocks in order (feed to posexplode to keep
    block order through downstream shuffles).
    """
    lines = F.split(body, "\n", -1)
    overflow = lambda acc, ln: (  # noqa: E731  (current + '\n' + line) > max
        F.length(acc["cur"]) + 1 + F.length(ln) > F.lit(max_len)
    )
    folded = F.aggregate(
        lines,
        F.struct(
            F.array().cast("array<string>").alias("blocks"),
            F.lit("").alias("cur"),
        ),
        lambda acc, ln: F.struct(
            F.when(overflow(acc, ln), F.array_append(acc["blocks"], acc["cur"]))
            .otherwise(acc["blocks"])
            .alias("blocks"),
            F.when(overflow(acc, ln), ln)
            .otherwise(
                F.when(acc["cur"] == "", ln).otherwise(
                    F.concat(acc["cur"], F.lit("\n"), ln)
                )
            )
            .alias("cur"),
        ),
        lambda acc: F.when(
            acc["cur"] != "", F.array_append(acc["blocks"], acc["cur"])
        ).otherwise(acc["blocks"]),
    )
    return folded


def hyperlink_headings(body: Column) -> Column:
    """W3 — `<url|heading>` pairing with sequential URL-line consumption.

    Folds over (line, next line) pairs; the accumulator carries (out, skip).
    The pairs come from one split of the body zipped with its own tail plus
    a NULL, so the fold is linear in the body: looking lines up by index
    inside the lambda re-evaluated the split on every line.
    """
    lines = F.split(body, "\n", -1)
    n = F.size(lines)
    pairs = F.arrays_zip(
        lines.alias("line"),
        F.concat(F.slice(lines, 2, n), F.array(F.lit(None).cast("string"))).alias("nxt"),
    )

    def step(acc: Column, p: Column) -> Column:
        line, nxt = p["line"], p["nxt"]
        pair = (
            (line != "")
            & nxt.isNotNull()
            & (nxt != "")
            & nxt.rlike(_URL_RE)
            & (F.length(line) < 300)
        )
        return F.struct(
            F.when(acc["skip"], acc["out"])
            .when(
                pair,
                F.array_append(
                    acc["out"], F.concat(F.lit("<"), nxt, F.lit("|"), line, F.lit(">"))
                ),
            )
            .otherwise(F.array_append(acc["out"], line))
            .alias("out"),
            (~acc["skip"] & pair).alias("skip"),
        )

    folded = F.aggregate(
        pairs,
        F.struct(
            F.array().cast("array<string>").alias("out"), F.lit(False).alias("skip")
        ),
        step,
        lambda acc: F.array_join(acc["out"], "\n"),
    )
    # a NULL body has no line count (size NULL, or -1 without ANSI): ''
    return F.when(n >= 1, folded).otherwise(F.lit(""))


def slack_section(text: Column) -> Column:
    """One Block Kit `section` struct (Consumer/kafkaConsumer.js:131-137)."""
    return F.struct(
        F.lit("section").alias("type"),
        F.struct(F.lit("mrkdwn").alias("type"), text.alias("text")).alias("text"),
    )


def slack_blocks_payload(subject: Column, chunks: Column) -> Column:
    """E3+D5 — full Slack webhook JSON payload:
    header section (`*Subject:* ${subject}\\n*Body:*`) + chunk sections
    (Consumer/kafkaConsumer.js:123-140)."""
    header = slack_section(
        F.concat(F.lit("*Subject:* "), subject, F.lit("\n*Body:*"))
    )
    sections = F.transform(chunks, slack_section)
    blocks = F.concat(F.array(header), sections)
    return F.to_json(F.struct(blocks.alias("blocks")))
