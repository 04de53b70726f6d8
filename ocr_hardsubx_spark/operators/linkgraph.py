"""Hyperlink graph extraction + host-level PageRank.

A crawl curation pipeline needs the LINK structure of the corpus, not
just its text: per-domain reputation scores (PageRank-style) feed URL
filtering and mixture weighting (Common Crawl publishes exactly this as
its host-level web graph), and aggregated anchor text is a classic
relevance signal.  This module adds the three pieces:

1. ``extract_outlinks`` — an Arrow-batched ``mapInPandas`` stage that
   parses each page's html with a stdlib-``HTMLParser`` link collector
   (NOT a regex: attributes may be single/double/un-quoted, tags span
   lines), resolves relative hrefs against the page url, drops
   non-http(s) schemes, and emits one narrow ``(url, src_host,
   dst_host, anchor)`` row per link.  Same shape as the text extract
   stage (``operators/extract.py``): column-pruned scan, zero shuffle,
   all per-byte work batched in Python.  The heavy html column never
   leaves the stage.

2. ``link_graph`` — host->host edge aggregation with out-degree
   normalized transition weights.  One shuffle on the (low-cardinality
   relative to pages) ``(src_host, dst_host)`` key; the 100 TB shape is
   a classic map-side-combinable count.

3. ``pagerank_hosts`` — power iteration over the host graph.  Each
   step is ONE shuffle (join ranks to weighted edges on src, aggregate
   mass by dst); ranks/edges are host-level tables, orders of magnitude
   smaller than the page corpus, and the per-step ``localCheckpoint``
   cuts the lineage so iteration K does not replay steps 1..K-1 (the
   standard iterative-algorithm discipline; a real cluster would use
   ``checkpoint`` to reliable storage).  Per-step ranks are rounded to
   ``STEP_ROUND`` decimals so a relational oracle (chained CTEs) can
   reproduce the float trajectory exactly — the same cross-engine
   determinism discipline as the k-means/LR training steps.

Reference anchor: the reference's pipeline has no link stage (its input
is video frames, erfilter.c:1-40); this family is part of the web-scale
curation surface the north rule adds around the extraction core.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

OUTLINK_SCHEMA = ("url string, src_host string, dst_host string, "
                  "dst_url string, anchor string, nofollow boolean")

#: deterministic fixture-graph dials, read by the link-corpus writer
#: (``dataset_queries._linked_pages``) and its DuckDB twin
LINK_HOSTS = 50
LINKS_PER_DOC = 3

#: per-step rank rounding — enough to keep the cross-engine float
#: trajectories identical, coarse enough that summation order noise
#: (~1e-15 per term) can never reach it
STEP_ROUND = 10
FINAL_ROUND = 6


class _LinkCollector:
    """Minimal stdlib HTML link collector: (href, visible anchor text)."""

    def __init__(self) -> None:
        from html.parser import HTMLParser

        outer = self

        class _P(HTMLParser):
            def __init__(self) -> None:
                super().__init__(convert_charrefs=True)
                self.links: list[tuple[str, list[str], bool]] = []
                self.depth = 0          # <a> nesting (malformed pages)

            def handle_starttag(self, tag, attrs):
                if tag != "a":
                    return
                href = next((v for k, v in attrs if k == "href"), None)
                if href is not None:
                    rel = next((v for k, v in attrs if k == "rel"), "")
                    nofollow = "nofollow" in (rel or "").lower().split()
                    self.links.append((href, [], nofollow))
                self.depth += 1

            def handle_endtag(self, tag):
                if tag == "a" and self.depth > 0:
                    self.depth -= 1

            def handle_data(self, data):
                if self.depth > 0 and self.links:
                    self.links[-1][1].append(data)

        outer._parser_cls = _P

    def collect(self, html: bytes, base_url: str):
        """-> [(abs_url, dst_host, anchor_text, nofollow)]; damage is
        non-fatal."""
        from urllib.parse import urljoin, urlsplit

        p = self._parser_cls()
        try:
            p.feed(html.decode("utf-8", "replace"))
            p.close()
        except Exception:
            pass                        # salvage whatever was collected
        out = []
        for href, texts, nofollow in p.links:
            try:
                absu = urljoin(base_url, href.strip())
                parts = urlsplit(absu)
            except ValueError:
                continue
            if parts.scheme not in ("http", "https") or not parts.hostname:
                continue
            out.append((absu, parts.hostname,
                        " ".join("".join(texts).split()), nofollow))
        return out


def extract_outlinks(pages: "DataFrame",
                     spark: "SparkSession" = None) -> "DataFrame":
    """(url, html) page frame -> one (url, src_host, dst_host, anchor)
    row per http(s) link.  Zero-shuffle mapInPandas stage."""
    if spark is not None:
        from ..plans.packaging import ensure_workers_can_import

        ensure_workers_can_import(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from urllib.parse import urlsplit

        from ocr_hardsubx_spark.operators.linkgraph import _LinkCollector

        coll = _LinkCollector()
        for pdf in batches:
            urls, srcs, dsts, dst_urls, anchors, nofs = \
                [], [], [], [], [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                try:
                    src_host = urlsplit(url).hostname or ""
                except ValueError:
                    src_host = ""
                for absu, dst, anchor, nof in coll.collect(bytes(html),
                                                           url):
                    urls.append(url)
                    srcs.append(src_host)
                    dsts.append(dst)
                    dst_urls.append(absu)
                    anchors.append(anchor)
                    nofs.append(nof)
            yield pd.DataFrame({"url": urls, "src_host": srcs,
                                "dst_host": dsts, "dst_url": dst_urls,
                                "anchor": anchors, "nofollow": nofs})

    return pages.select("url", "html").mapInPandas(gen, OUTLINK_SCHEMA)


def link_graph(outlinks: "DataFrame") -> "DataFrame":
    """Outlink rows -> (src_host, dst_host, n_links, weight) edges with
    out-degree-normalized transition weights.  ``rel=nofollow`` links
    are excluded from the transition graph (the standard PageRank
    treatment: they stay visible in the outlink table but carry no
    endorsement)."""
    if "nofollow" in outlinks.columns:
        outlinks = outlinks.where(~F.col("nofollow"))
    agg = (outlinks.groupBy("src_host", "dst_host")
           .agg(F.count("*").alias("n_links")))
    tot = F.sum("n_links").over(Window.partitionBy("src_host"))
    return agg.select(
        "src_host", "dst_host", "n_links",
        (F.col("n_links") / tot).alias("weight"))


def pagerank_hosts(outlinks: "DataFrame", iters: int = 5,
                   damping: float = 0.85) -> "DataFrame":
    """Host-level PageRank by power iteration -> (host, pr).

    Hosts = every host seen as a link source or target.  Dangling hosts
    (in-links only) contribute no mass but still receive teleport +
    in-mass; their lost mass is redistributed uniformly each step (the
    standard dangling-node correction), keeping sum(pr) == 1.
    """
    edges = link_graph(outlinks).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst"),
        "weight")
    # edges + hosts + the dangling set are reused every step: materialize
    # edges FIRST and derive hosts/dangling from the checkpointed frame —
    # deriving them from the pre-checkpoint plan would re-run the whole
    # upstream outlink extraction (the mapInPandas html parse) once per
    # derived frame (measured 2x at sf1.0; the same shared-subtree hazard
    # as the crawl scheduler's double outlink stage)
    edges = edges.localCheckpoint()
    hosts = (edges.select(F.col("src").alias("host"))
             .union(edges.select(F.col("dst").alias("host")))
             .distinct().localCheckpoint())
    srcs = edges.select(F.col("src").alias("host")).distinct()
    # host count + dangling existence in ONE tiny job over the
    # host-level table (was two separate actions plus an eager
    # checkpoint of the dangling frame even when it is empty); the
    # dangling set is only materialized when the graph actually has
    # dangling hosts — the per-step mass scalar is the sole consumer
    n, n_dangling = (
        hosts.join(srcs.withColumn("_s", F.lit(1)), "host", "left")
        .agg(F.count("*"),
             F.sum(F.when(F.col("_s").isNull(), 1).otherwise(0)))
        .first())
    has_dangling = (n_dangling or 0) > 0
    dangling = (hosts.join(srcs, "host", "left_anti").localCheckpoint()
                if has_dangling else None)

    ranks = hosts.select("host", F.lit(round(1.0 / n, STEP_ROUND))
                         .alias("pr"))
    for _ in range(iters):
        # dangling mass this step — a driver SCALAR from one tiny agg
        # over the host-level table (never the corpus)
        dang = (ranks.join(dangling, "host", "left_semi")
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0))).first()[0]
                if has_dangling else 0.0)
        contrib = (edges.join(ranks, edges.src == ranks.host)
                   .groupBy("dst")
                   .agg(F.sum(F.col("pr") * F.col("weight")).alias("mass")))
        base = (1.0 - damping) / n + damping * dang / n
        ranks = (hosts.join(contrib, hosts.host == contrib.dst, "left")
                 .select("host",
                         F.round(F.lit(base)
                                 + F.lit(damping)
                                 * F.coalesce(F.col("mass"), F.lit(0.0)),
                                 STEP_ROUND).alias("pr")))
        # cut lineage: step K must not replay steps 1..K-1.  Lazy
        # (eager=False): the checkpoint still truncates lineage at first
        # materialization, but the loop no longer launches one blocking
        # job per step — all steps evaluate inside the consumer's single
        # action (dangling graphs evaluate per step anyway via `dang`)
        ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("host", F.round("pr", FINAL_ROUND).alias("pr"))


PAGE_FLAG_SCHEMA = "url string, noindex boolean, nofollow_page boolean"


def collect_meta_robots(html: bytes) -> tuple:
    """-> (noindex, nofollow) from ``<meta name="robots" ...>`` tags
    (directives comma-separated per the robots-meta convention; any
    matching tag wins).  Pure function, damage non-fatal."""
    from html.parser import HTMLParser

    flags = {"noindex": False, "nofollow": False}

    class _M(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if tag != "meta":
                return
            d = dict(attrs)
            if (d.get("name") or "").lower() != "robots":
                return
            directives = {t.strip().lower()
                          for t in (d.get("content") or "").split(",")}
            flags["noindex"] |= "noindex" in directives or \
                "none" in directives
            flags["nofollow"] |= "nofollow" in directives or \
                "none" in directives

    p = _M(convert_charrefs=True)
    try:
        p.feed(html.decode("utf-8", "replace"))
        p.close()
    except Exception:
        pass
    return flags["noindex"], flags["nofollow"]


def extract_page_flags(pages: "DataFrame",
                       spark: "SparkSession" = None) -> "DataFrame":
    """(url, html) -> per-page robots-meta flags; zero-shuffle
    mapInPandas (the indexability gate a crawl pipeline applies before
    a page's text enters the corpus)."""
    if spark is not None:
        from ..plans.packaging import ensure_workers_can_import

        ensure_workers_can_import(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_hardsubx_spark.operators.linkgraph import \
            collect_meta_robots

        for pdf in batches:
            ni, nf = [], []
            for html in pdf["html"]:
                a, b = collect_meta_robots(bytes(html))
                ni.append(a)
                nf.append(b)
            yield pd.DataFrame({"url": pdf["url"].values,
                                "noindex": ni, "nofollow_page": nf})

    return pages.select("url", "html").mapInPandas(gen, PAGE_FLAG_SCHEMA)
