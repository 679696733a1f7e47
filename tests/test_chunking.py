"""Golden tests for E1 chunker, W3 hyperlink pairing, E3/D5 Block Kit
(Consumer/kafkaConsumer.js:74-140), incl. the reference's edge quirks."""

from __future__ import annotations

import json
import re

from pyspark.sql import functions as F

from kafka_flink_slack_pipeline_spark.functions import chunking as C


def _blocks(spark, text: str, max_len: int) -> list[str]:
    df = spark.createDataFrame([(text,)], "body string")
    return df.select(
        C.split_into_blocks(F.col("body"), max_len).alias("b")
    ).collect()[0].b


def _hyper(spark, text: str) -> str:
    df = spark.createDataFrame([(text,)], "body string")
    return df.select(C.hyperlink_headings(F.col("body")).alias("h")).collect()[0].h


# ---- E1 splitIntoBlocks ---------------------------------------------------
def test_chunker_packs_lines(spark):
    assert _blocks(spark, "abc\ndef\nghi", 10) == ["abc\ndef", "ghi"]


def test_chunker_oversized_first_line_pushes_empty_block(spark):
    # ('' + '\n' + line).length > max → push('') — reference quirk
    assert _blocks(spark, "abcdefgh", 5) == ["", "abcdefgh"]


def test_chunker_exact_boundary(spark):
    # len(line)+1 == max+1 > max → same quirk at exact max length
    assert _blocks(spark, "abcde", 5) == ["", "abcde"]
    # len(line)+1 == max → fits
    assert _blocks(spark, "abcd", 5) == ["abcd"]


def test_chunker_empty_body_yields_no_blocks(spark):
    # '' splits to [''] → current stays '' → trailing if(current) drops it
    assert _blocks(spark, "", 10) == []


def test_chunker_preserves_line_content(spark):
    text = "\n".join(f"line{i:02d}" for i in range(10))  # 6-char lines
    out = _blocks(spark, text, 20)
    assert "\n".join(out) == text  # nothing lost, order kept
    assert all(len(b) <= 20 for b in out)


# ---- W3 hyperlinkHeadings -------------------------------------------------
def test_hyperlink_basic_pairing(spark):
    assert _hyper(spark, "Heading\nhttps://x.co/a\nNext") == "<https://x.co/a|Heading>\nNext"


def test_hyperlink_url_consumed_once(spark):
    # second URL line has no following pair partner → emitted raw
    assert _hyper(spark, "A\nhttps://1.co\nhttps://2.co") == "<https://1.co|A>\nhttps://2.co"


def test_hyperlink_no_pair_cases(spark):
    long_heading = "x" * 300
    assert _hyper(spark, f"{long_heading}\nhttps://x.co") == f"{long_heading}\nhttps://x.co"
    assert _hyper(spark, "\nhttps://x.co") == "\nhttps://x.co"  # empty heading
    assert _hyper(spark, "H\nhttps://x.co with space") == "H\nhttps://x.co with space"
    assert _hyper(spark, "plain\ntext") == "plain\ntext"


def test_hyperlink_chained_pairs(spark):
    out = _hyper(spark, "A\nhttps://1.co\nB\nhttps://2.co")
    assert out == "<https://1.co|A>\n<https://2.co|B>"


def _js_hyperlink_headings(text: str | None) -> str:
    """Python port of hyperlinkHeadings (Consumer/kafkaConsumer.js:94-115);
    a NULL body reads as ''."""
    lines = (text or "").split("\n")
    out, i = [], 0
    while i < len(lines):
        line = lines[i]
        nxt = lines[i + 1] if i + 1 < len(lines) else None
        if line and nxt and re.fullmatch(r"https?://\S+", nxt) and len(line) < 300:
            out.append(f"<{nxt}|{line}>")
            i += 1  # the URL line is consumed
        else:
            out.append(line)
        i += 1
    return "\n".join(out)


def test_hyperlink_matches_js_reference(spark):
    bodies = [
        None,
        "",
        "single line",
        "https://only.url",
        "intro\nHeading\nhttps://x.co/last",  # URL as the last line
        "Heading\nhttps://1.co\nhttps://2.co\ntail",  # consecutive URL lines
        "https://1.co\nhttps://2.co",  # a URL heading pairs with the next URL
        f"{'h' * 299}\nhttps://x.co/299",  # longest heading that pairs
        f"{'h' * 300}\nhttps://x.co/300",  # too long to pair
        "\n\nH\nhttps://x.co\n\n",
    ]
    df = spark.createDataFrame([(i, b) for i, b in enumerate(bodies)], "i int, body string")
    got = {
        r.i: r.h
        for r in df.select("i", C.hyperlink_headings(F.col("body")).alias("h")).collect()
    }
    assert [got[i] for i in range(len(bodies))] == [_js_hyperlink_headings(b) for b in bodies]


# ---- E3/D5 Block Kit ------------------------------------------------------
def test_slack_blocks_payload_shape(spark):
    df = spark.createDataFrame(
        [("*Subj*", ["chunk one", "chunk two"])],
        "subject string, chunks array<string>",
    )
    payload = df.select(
        C.slack_blocks_payload(F.col("subject"), F.col("chunks")).alias("p")
    ).collect()[0].p
    obj = json.loads(payload)
    blocks = obj["blocks"]
    assert len(blocks) == 3
    assert blocks[0] == {
        "type": "section",
        "text": {"type": "mrkdwn", "text": "*Subject:* *Subj*\n*Body:*"},
    }
    assert blocks[1]["text"]["text"] == "chunk one"
    assert blocks[2]["text"]["text"] == "chunk two"
    assert all(b["type"] == "section" and b["text"]["type"] == "mrkdwn" for b in blocks)
