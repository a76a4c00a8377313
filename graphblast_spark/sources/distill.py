"""Pages → edge-table distillation (the engine's readMtx analog).

Pipeline (north_rule): vectorized Arrow UDFs extract per-url text and
outlinks from the html binary, explode to (src_url, dst_url), assign
dense 0..n-1 vertex ids (matching the reference's contiguous Index,
types.hpp:18), and clean per the reference build semantics
(util.hpp:263-329). The distilled edge table + url↔id map are written
to parquet once and reused — the analog of the reference's binary
``.dat`` parse cache (util.hpp:331-357, sparse_matrix.hpp:328-345).

Scale notes:
- extraction is mapInPandas over the pages scan — embarrassingly
  parallel, no shuffle, pandas .str vectorized (no per-row Python);
- id assignment avoids the single-partition global window: urls are
  range-partitioned and sorted, per-partition counts are collected
  (P integers, not rows), and ids = partition offset + local position —
  a two-pass dense rank that scales to any |V|;
- the url→id join for edge endpoints is a plain shuffle join on url;
  at web scale both sides are huge, so it stays a sort-merge join —
  done ONCE at build, then persisted.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from graphblast_spark.runtime.superstep import truncate_plan

_TEXT_RE = "<p>(.*?)</p>"
_HREF_RE = 'href="([^"]*)"'


def _decode(html: pd.Series) -> pd.Series:
    """Vectorized bytes→str (pandas .str.decode, no per-row Python)."""
    return html.str.decode("utf-8", errors="replace").fillna("")


def extract_columns(pages: DataFrame) -> DataFrame:
    """pages → (url, text_extracted, outlinks array<string>, lang).
    One decode pass feeds both regexes (decoding dominates for short
    pages; doing it once per extractor measured ~15% slower)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            decoded = _decode(b["html"])
            yield pd.DataFrame(
                {
                    "url": b["url"],
                    "text_extracted": decoded.str.extract(_TEXT_RE, expand=False).fillna(""),
                    "outlinks": decoded.str.findall(_HREF_RE),
                    "lang": b["lang"],
                }
            )

    return pages.select("url", "html", "lang").mapInPandas(
        run, schema="url string, text_extracted string, outlinks array<string>, lang string"
    )


def assign_dense_ids(urls: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """(url) → (url, id) with ids dense 0..n-1 in global url sort order.

    Two-pass scalable dense rank: range-partition + in-partition sort,
    collect per-partition DISTINCT counts (tiny), then offset + local
    dense position. Dedup rides the range shuffle: equal urls land in
    the same range partition, adjacent after the sort, so duplicates are
    skipped while assigning ids — no separate ``distinct`` exchange of
    the full URL table (one full shuffle saved at any scale).
    """
    spark = urls.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # eager localCheckpoint (not persist): freezes the partition layout
    # between the offsets pass and the id-assignment pass (the two-pass
    # dense rank depends on identical partitioning), and the blocks
    # release with the result instead of leaking a cache entry per call
    sorted_urls = (
        urls.select("url")
        .repartitionByRange(num_partitions, "url")
        .sortWithinPartitions("url")
        .withColumn("__pid", F.spark_partition_id())
        .transform(truncate_plan)
    )
    counts = dict(
        sorted_urls.groupBy("__pid").agg(F.count_distinct("url").alias("c")).collect()
    )
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    boff = spark.sparkContext.broadcast(offsets)

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        prev = None  # last url of the previous batch (same partition)
        for b in batches:
            if len(b) == 0:
                continue
            pid = int(b["__pid"].iloc[0])
            if pos is None:
                pos = boff.value[pid]
            u = b["url"]
            keep = u.ne(u.shift())  # first occurrence in sorted order
            if prev is not None:
                keep.iloc[0] = u.iloc[0] != prev
            kept = u[keep].to_numpy()
            ids = range(pos, pos + len(kept))
            pos += len(kept)
            prev = u.iloc[-1]
            yield pd.DataFrame({"url": kept, "id": pd.Series(ids, dtype="int64")})

    return sorted_urls.mapInPandas(add_ids, schema="url string, id long")


def distill_edges(
    pages: DataFrame,
    drop_dangling_targets: bool = True,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """pages → (edges(src,dst,val), url_map(url,id)).

    Cleaning matches reference util.hpp:263-329: self-loops dropped,
    duplicate (src,dst) dropped, values 1.0 (pattern semantics).
    ``drop_dangling_targets``: outlinks pointing outside the corpus are
    dropped (inner join); the vertex universe is ALL pages (dangling
    pages keep ids — PR teleport semantics need them, SURVEY §7.3.5).
    """
    # The extraction feeds BOTH the id map and the edge pairs; without
    # materialization the full pages scan + Arrow decode + regex
    # extraction runs once per consumer (measured 2.3× end-to-end at 1M
    # pages). Eager localCheckpoint (not persist) so the blocks are
    # released when the result goes out of scope. At real web scale
    # this materialization is the parquet/Iceberg staging table the
    # binary-cache analog describes (util.hpp:331-357).
    cols = extract_columns(pages).transform(truncate_plan)
    url_map = assign_dense_ids(cols.select("url"), num_partitions).persist()

    # self-loop filter + dedup run at the URL level, BEFORE the id joins:
    # the url↔id map is bijective so the semantics are identical, the
    # post-join dedup shuffle disappears, and the (usually duplicate-
    # heavy) outlink stream shrinks before the two expensive string
    # joins (measured at 20k pages, local[32]: 7.9 s → 3.6-3.9 s warm,
    # identical 71,803 edges out).
    pairs = (
        cols.select(
            F.col("url").alias("src_url"), F.explode("outlinks").alias("dst_url")
        )
        .filter(F.col("src_url") != F.col("dst_url"))
        .dropDuplicates(["src_url", "dst_url"])
    )
    src_m = url_map.select(F.col("url").alias("src_url"), F.col("id").alias("src"))
    dst_m = url_map.select(F.col("url").alias("dst_url"), F.col("id").alias("dst"))
    how = "inner" if drop_dangling_targets else "left"
    edges = (
        pairs.join(src_m, "src_url")
        .join(dst_m, "dst_url", how)
        .select("src", "dst", F.lit(1.0).alias("val"))
    )
    if not drop_dangling_targets:
        # left join maps every out-of-corpus dst_url to null — collapse
        # the per-src null fan-out the url-level dedup can't see
        edges = edges.dropDuplicates(["src", "dst"])
    return edges, url_map


# --- anchor-text extraction & aggregation (link_graph × webtext) --------
#
# Anchor text is the classic cross-document relevance signal for the
# TARGET page (search engines index it since the 1990s; web-corpus
# pipelines attach aggregated inlink anchors as target-page metadata).
# Extraction here is pure JVM Column expressions (regexp over the
# decoded html — no Arrow round-trip needed for a per-tag regex), so
# the whole path is scan → explode → two vertex-keyed aggregates.

_ANCHOR_TAG_RE = '<a href="[^"]*">[^<]*</a>'
_ANCHOR_TEXT_RE = '>([^<]*)</a>'


def extract_anchors(pages: DataFrame) -> DataFrame:
    """pages (url, html binary) → (src_url, dst_url, anchor) — one row
    per <a> tag. Codegen-only: decode, findall tags, per-tag href/text
    extracts, explode."""
    h = F.col("html").cast("string")
    tags = F.regexp_extract_all(h, F.lit(_ANCHOR_TAG_RE), 0)
    pairs = F.transform(
        tags,
        lambda x: F.struct(
            F.regexp_extract(x, _HREF_RE, 1).alias("dst_url"),
            F.regexp_extract(x, _ANCHOR_TEXT_RE, 1).alias("anchor"),
        ),
    )
    return (
        pages.select(F.col("url").alias("src_url"), F.explode(pairs).alias("p"))
        .select("src_url", "p.dst_url", "p.anchor")
    )


def anchor_summary(anchors: DataFrame) -> DataFrame:
    """Per target url: (dst_url, n_inlinks, n_src, top_anchor) where
    top_anchor is the most frequent anchor string (ties → lexically
    smallest — deterministic on any cluster). Two map-side-combining
    aggregates + one vertex-sized join; the hub target (every page
    linking to a homepage) is absorbed by partial aggregation, and the
    top-anchor argmax is the struct-min trick (no window over the
    anchor stream)."""
    totals = anchors.groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.count_distinct("src_url").alias("n_src"),
    )
    top = (
        anchors.groupBy("dst_url", "anchor")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("dst_url")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), "anchor")).alias("t"))
        .select("dst_url", F.col("t.anchor").alias("top_anchor"))
    )
    return totals.join(top, "dst_url").select(
        "dst_url", "n_inlinks", "n_src", "top_anchor"
    )
