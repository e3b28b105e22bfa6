"""Seeded inputs for the entity-resolution benchmark workloads.

Every workload is drawn from ``datagen.synth_corpus``; the seed is the
only source of randomness, so one seed always gives the same pages,
labels and ground-truth entities. The pipeline under test only ever
sees the generated pages.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from entity_resolution_spark.datagen import synth_corpus

# Generator parameters per workload. synth_corpus draws `n_entities`
# entities (1-8 pages each); only the first `pages` pages are kept, so
# every seed gives an input of the same size. ``hosts`` = "zipf" keeps
# synth_corpus's Zipf domain draw over ``n_domains``; an integer
# re-draws every page's host uniformly from a pool of that size.
WORKLOADS: dict[str, dict] = {
    # tiny domain blocks: candidates come almost only from LSH bands
    "sparse_blocks": {"pages": 384, "n_entities": 160, "n_domains": 20, "hosts": 120},
    # 4 Zipf domains: the hottest domain key holds about 45% of the
    # pages, so candidate pairs run at ~50 per page
    "hot_domains": {"pages": 384, "n_entities": 160, "n_domains": 4, "hosts": "zipf"},
    # sorted by warc_ts: the first `initial_pages` are stamped in
    # set-up, the next `batches` x `batch_pages` pages land as
    # micro-batches, and the rest are never fed. Variants of an entity
    # are 72 h apart, so in this dense head of the crawl no micro-batch
    # holds two pages of one entity (40 seeds tried); further on, the
    # ts-sparse tail puts 0-34 duplicate pairs in one batch depending on
    # the seed, and cc's Spark job count moves with them (3 with no edge)
    "recrawl_stream": {
        "pages": 448,
        "n_entities": 187,
        "n_domains": 20,
        "hosts": 180,
        "initial_pages": 192,
        "batch_pages": 32,
        "batches": 3,
    },
}


@dataclass
class Corpus:
    pages: pd.DataFrame  # url, warc_ts, html, text, lang
    labels: pd.DataFrame  # url_1, url_2, is_match
    truth: pd.DataFrame  # url, entity_gt


def _rehost(corpus: Corpus, n_hosts: int, rng: np.random.Generator) -> Corpus:
    """Move every page to a host drawn uniformly from ``n_hosts`` and
    remap the label and truth urls to match. The opaque path is kept,
    so urls stay unique."""
    urls = corpus.pages["url"].tolist()
    hosts = rng.integers(0, n_hosts, len(urls))
    remap = {
        u: f"https://h{int(h):05d}.example.org/{u.split('/', 3)[3]}"
        for u, h in zip(urls, hosts)
    }
    pages = corpus.pages.assign(url=corpus.pages["url"].map(remap))
    labels = corpus.labels.assign(
        url_1=corpus.labels["url_1"].map(remap), url_2=corpus.labels["url_2"].map(remap)
    )
    truth = corpus.truth.assign(url=corpus.truth["url"].map(remap))
    return Corpus(pages, labels, truth)


def head(corpus: Corpus, n: int) -> Corpus:
    """The first `n` pages, with the labels between them."""
    kept = set(corpus.pages["url"].iloc[:n])
    labels = corpus.labels
    labels = labels[labels["url_1"].isin(kept) & labels["url_2"].isin(kept)]
    return Corpus(
        corpus.pages.iloc[:n].reset_index(drop=True),
        labels[["url_1", "url_2", "is_match"]].reset_index(drop=True),
        corpus.truth.iloc[:n].reset_index(drop=True),
    )


def make_corpus(workload: str, seed: int) -> Corpus:
    params = WORKLOADS[workload]
    pages, labels, truth = synth_corpus(
        n_entities=params["n_entities"], n_domains=params["n_domains"], seed=seed
    )
    n = params["pages"]
    if len(pages) < n:
        raise ValueError(f"seed {seed} drew {len(pages)} pages, fewer than {n}")
    corpus = head(Corpus(pages, labels, truth), n)
    if params["hosts"] != "zipf":
        corpus = _rehost(corpus, params["hosts"], np.random.default_rng([seed, 1]))
    return corpus


def recrawl_split(pages: pd.DataFrame, params: dict) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Crawl order: (initial table pages, micro-batches in warc_ts order)."""
    ordered = pages.sort_values(["warc_ts", "url"], kind="stable").reset_index(drop=True)
    n0 = params["initial_pages"]
    step = params["batch_pages"]
    batches = [ordered.iloc[n0 + i * step : n0 + (i + 1) * step] for i in range(params["batches"])]
    return ordered.iloc[:n0], batches


def pairwise_f1(labels: pd.DataFrame, entity_of: dict[str, str]) -> float:
    """Pairwise F1 of predicted entities against labelled pairs; the
    formula of tests/test_pipeline_e2e.py::_pairwise_f1 (labels whose
    urls are not both stamped are left out, as its inner joins do)."""
    e1 = labels["url_1"].map(entity_of)
    e2 = labels["url_2"].map(entity_of)
    both = e1.notna() & e2.notna()
    pred = (e1[both] == e2[both]).to_numpy()
    match = labels.loc[both, "is_match"].to_numpy() == 1
    tp = int((pred & match).sum())
    fp = int((pred & ~match).sum())
    fn = int((~pred & match).sum())
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    return 2 * prec * rec / max(prec + rec, 1e-9)
