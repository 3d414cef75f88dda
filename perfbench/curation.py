"""Workload ``corpus_curation``: repeated ``curate_corpus_v3`` passes.

Set-up generates a seeded corpus shaped like the sf0.1 ``documents`` table:
word-vocabulary text with paragraph breaks in five languages and URLs that
vary scheme, ``www``, case, query and fragment as the catalog's
``pipeline_curate_corpus_v3`` derives them.  Each planted repeat is removed
by a known stage, so the kept set is known without running the pipeline:

- URL duplicates (same normalized URL, new text): the URL stage;
- low-quality and fifth-language documents: the quality/language gates;
- exact copies: the paragraph stage empties them;
- case variants (every word capitalized): invisible to the byte-level
  paragraph and substring stages, caught by MinHash (its shingles are
  lowercased, so the pair has Jaccard 1);
- shared boilerplate paragraphs and shared 60-character phrases: cut from
  every document but the first, which all survive.

A pass is one ``curate_corpus_v3(..., url_col="url")`` call (which runs its
eager checkpoints) plus the ``collect()`` of its result; the two are timed
apart.  The traced run also replays v3's stages through the public
functions it calls, materializing each stage's output.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import latency_summary

N_DOCS = 2500
SETUP_REPS = 3
PLANTED = {"url_dup": 30, "exact_dup": 30, "case_dup": 30, "low_quality": 50, "foreign": 75}
BOILERPLATES, BOILERPLATE_DOCS = 10, 15  # paragraphs, documents carrying each
PHRASES, PHRASE_DOCS = 15, 8
LANG_STOPWORDS = {  # the fifth language has no stopword the language gate knows
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "und", "ist", "nicht", "mit", "auf"],
    "fr": ["le", "les", "et", "une", "est", "pour"],
    "es": ["el", "los", "las", "y", "para"],
    "it": ["il", "della", "sono", "questo", "anche", "molto"],
}
ALL_GATE_STOPWORDS = {
    "the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "der", "die", "das", "und", "ist",
    "nicht", "ein", "mit", "auf", "zu", "le", "la", "les", "et", "de", "un", "une", "est", "que", "pour",
    "el", "los", "las", "y", "es", "para",
}


def _vocabulary(rng, n: int = 6000) -> list[str]:
    cons, vows = list("bcdfghjklmnprstvwz"), list("aeiou")
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(str(rng.choice(cons)) + str(rng.choice(vows)) for _ in range(k))
        if w not in ALL_GATE_STOPWORDS:
            words.add(w)
    return sorted(words)


def _sentence(rng, vocab, stops) -> str:
    words = [vocab[int(i)] for i in rng.integers(len(vocab), size=int(rng.integers(6, 10)))]
    for _ in range(2):  # stopwords mid-sentence, never before the period
        words.insert(int(rng.integers(1, len(words))), stops[int(rng.integers(len(stops)))])
    return " ".join(words) + "."


def _paragraph(rng, vocab, stops) -> str:
    return " ".join(_sentence(rng, vocab, stops) for _ in range(2))


def _url(page: int, variant: int) -> str:
    return (
        f"https://www.example.com/page/{page}?utm_source=feed",
        f"http://example.com/page/{page}/",
        f"HTTPS://Example.COM/page/{page}#frag",
    )[variant % 3]


def generate(seed: int, n_docs: int = N_DOCS) -> tuple[dict, set[int]]:
    """(columns of the corpus, the planted expectation of kept ids)."""
    rng = np.random.default_rng([seed, 21])
    vocab = _vocabulary(rng)
    n_planted = sum(PLANTED.values())
    n_unique = n_docs - n_planted
    kinds = ["unique"] * n_unique
    for kind, n in PLANTED.items():
        kinds += [kind] * n
    order = rng.permutation(n_docs)  # id of the k-th generated document
    texts: list[str | None] = [None] * n_docs
    urls: list[str | None] = [None] * n_docs
    langs = ["en", "de", "fr", "es"]
    unique_ids = sorted(int(order[k]) for k in range(n_unique))
    for k in range(n_unique):
        lang = langs[int(rng.integers(4))]
        texts[order[k]] = "\n".join(_paragraph(rng, vocab, LANG_STOPWORDS[lang]) for _ in range(int(rng.integers(2, 4))))
        urls[order[k]] = _url(int(order[k]), int(rng.integers(3)))
    # bases of the planted copies: unique documents with a lower id, kept clean
    # (no boilerplate or phrase) so each copy is removed by exactly one stage
    base_pool = [i for i in unique_ids if i < n_docs // 2]
    bases = [int(b) for b in rng.choice(base_pool, size=sum(PLANTED[k] for k in ("url_dup", "exact_dup", "case_dup")), replace=False)]
    free = sorted(set(unique_ids) - set(bases))
    kept = set(unique_ids)
    planted_ids = [int(order[k]) for k in range(n_unique, n_docs)]
    bi = 0
    for pid, kind in zip(planted_ids, kinds[n_unique:]):
        if kind in ("url_dup", "exact_dup", "case_dup"):
            b = bases[bi]
            bi += 1
            lo, hi = min(b, pid), max(b, pid)
            if lo != b:  # the copy must come after its base: swap roles
                texts[lo], urls[lo] = texts[hi], urls[hi]
                kept.discard(hi)
                kept.add(lo)
            base_text = texts[lo]
            if kind == "url_dup":  # new text, the base's URL in another variant
                lang = langs[int(rng.integers(4))]
                texts[hi] = "\n".join(_paragraph(rng, vocab, LANG_STOPWORDS[lang]) for _ in range(3))
                urls[hi] = _url(int(re.search(r"/page/(\d+)", urls[lo]).group(1)), int(rng.integers(3)))
            elif kind == "exact_dup":
                texts[hi], urls[hi] = base_text, _url(n_docs + hi, int(rng.integers(3)))
            else:
                texts[hi] = "\n".join(" ".join(w[:1].upper() + w[1:] for w in p.split(" ")) for p in base_text.split("\n"))
                urls[hi] = _url(n_docs + hi, int(rng.integers(3)))
        elif kind == "low_quality":
            texts[pid] = " ".join(str(int(x)) for x in rng.integers(10, 99, size=int(rng.integers(3, 8))))
            urls[pid] = _url(pid, int(rng.integers(3)))
        else:  # foreign
            texts[pid] = "\n".join(_paragraph(rng, vocab, LANG_STOPWORDS["it"]) for _ in range(int(rng.integers(2, 4))))
            urls[pid] = _url(pid, int(rng.integers(3)))
    # shared boilerplate paragraphs and phrases ride on the remaining unique docs
    for _ in range(BOILERPLATES):
        para = _paragraph(rng, vocab, LANG_STOPWORDS["en"])
        for d in rng.choice(free, size=BOILERPLATE_DOCS, replace=False):
            texts[d] = texts[d] + "\n" + para
    for _ in range(PHRASES):
        phrase = " ".join(vocab[int(i)] for i in rng.integers(len(vocab), size=10))[:60]
        for d in rng.choice(free, size=PHRASE_DOCS, replace=False):
            paras = texts[d].split("\n")
            words = paras[0].split(" ")
            cut = int(rng.integers(1, len(words) - 1))
            paras[0] = " ".join(words[:cut] + [phrase] + words[cut:])
            texts[d] = "\n".join(paras)
    cols = {"doc_id": list(range(n_docs)), "text": texts, "url": urls}
    return cols, kept


SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("url", pa.string())])


def setup(spark, seed: int, path: str):
    cols, kept = generate(seed)
    pq.write_table(pa.table(cols, schema=SCHEMA), path)
    docs = spark.read.parquet(path)
    docs.count()
    return docs, kept


def curate(docs):
    from outpost_spark.ops.pipeline import curate_corpus_v3

    return curate_corpus_v3(docs, url_col="url", paragraph_sep="\n")


def one_pass(docs, tracer) -> tuple[float, float, list]:
    """(build seconds, collect seconds, sorted (id, split) rows)."""
    t0 = time.perf_counter()
    with tracer.span("ops.pipeline.build"):
        out = curate(docs)
    t1 = time.perf_counter()
    with tracer.span("ops.pipeline.exec"):
        rows = out.collect()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, sorted((r["doc_id"], r["split"]) for r in rows)


def replay(docs, tracer) -> list:
    """v3's stage sequence through the public functions it calls, each
    stage's output materialized inside its span (the traced run only)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from outpost_spark.ops.dedup import (
        connected_components,
        dedup_keep_canonical,
        dedup_paragraphs,
        dedup_substrings,
        minhash_dedup_pairs,
    )
    from outpost_spark.ops.pipeline import DEFAULT_LANGS, DEFAULT_SPLITS
    from outpost_spark.ops.sampling import hash_split
    from outpost_spark.ops.text import language_id_expr, normalize_url_expr, quality_score_expr

    def losers(df, key):  # keep-first: ids that are not the min id of their key
        w = Window.partitionBy("__k")
        return (
            df.select("doc_id", key.alias("__k"))
            .withColumn("__min", F.min("doc_id").over(w))
            .filter(F.col("doc_id") != F.col("__min"))
            .select("doc_id")
        )

    def stage(name, rows_in, build):
        with tracer.span(name) as sp:
            out = build().localCheckpoint(eager=True)
            n = out.count()
            sp.add(rows_in=rows_in, rows_out=n)
        return out, n

    n_docs = docs.count()
    base, n = stage(
        "ops.text.gates",
        n_docs,
        lambda: docs.join(F.broadcast(losers(docs, normalize_url_expr(F.col("url")))), "doc_id", "left_anti")
        .filter((quality_score_expr(F.col("text")) >= 0.5) & language_id_expr(F.col("text")).isin(*DEFAULT_LANGS))
        .select("doc_id", "text"),
    )
    base, n = stage(
        "ops.dedup.paragraphs",
        n,
        lambda: dedup_paragraphs(base, "text", "doc_id", sep="\n")
        .filter(F.col("text_clean") != "")
        .select("doc_id", F.col("text_clean").alias("text")),
    )
    base, n = stage(
        "ops.dedup.substrings",
        n,
        lambda: dedup_substrings(base, "text", "doc_id", window=40, stride=1)
        .filter(F.col("text_clean") != "")
        .select("doc_id", F.col("text_clean").alias("text")),
    )
    exact, n = stage(
        "ops.dedup.exact",
        n,
        lambda: base.join(F.broadcast(losers(base, F.unhex(F.md5(F.col("text"))))), "doc_id", "left_anti"),
    )
    pairs, n_pairs = stage("ops.dedup.minhash", n, lambda: minhash_dedup_pairs(exact, "doc_id", "text", threshold=0.7))
    stage("ops.dedup.components", n_pairs, lambda: connected_components(pairs))
    survivors, n = stage("ops.dedup.canonical", n, lambda: dedup_keep_canonical(exact, pairs, "doc_id"))
    with tracer.span("ops.sampling.split") as sp:
        rows = hash_split(survivors, "doc_id", DEFAULT_SPLITS, seed="curate").select("doc_id", "split").collect()
        sp.add(rows_in=n, rows_out=len(rows))
    return sorted((r["doc_id"], r["split"]) for r in rows)


def run(spark, seed: int, seconds: float, work: str, tracer) -> dict:
    trace, tracer.enabled = tracer.enabled, False
    setup_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        docs, kept = setup(spark, seed, os.path.join(work, f"corpus{rep}.parquet"))
        setup_times.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    _, _, first = one_pass(docs, tracer)  # warm-up: JIT and Python workers
    warmup_s = time.perf_counter() - t0

    # timed passes: at least one, then more while the next (timed like the
    # last) still ends inside the run's seconds
    results, builds, execs, passes = [first], [], [], []
    deadline = time.perf_counter() + (seconds / 2 if trace else seconds)
    while not passes or time.perf_counter() + passes[-1] <= deadline:
        b, e, rows = one_pass(docs, tracer)
        builds.append(b)
        execs.append(e)
        passes.append(b + e)
        results.append(rows)
    if trace:
        tracer.enabled = True
        _, _, rows = one_pass(docs, tracer)
        results.append(rows)
        t1 = time.perf_counter()
        replayed = replay(docs, tracer)
        replay_s = time.perf_counter() - t1
        tracer.enabled = False
        results.append(replayed)

    verdicts = [{r[0] for r in rows} == kept for rows in results]
    verdicts += [rows == results[0] for rows in results[1:]]
    lat = latency_summary(passes, 1000.0)
    out = {
        "attempted": len(verdicts),
        "failed": verdicts.count(False),
        "setup_s": float(np.median(setup_times)),
        "throughput_per_s": N_DOCS / (lat["p50"] / 1000.0),
        "latency_p50_ms": lat["p50"],
        "detail": {
            "curate_docs_per_s": {"value": N_DOCS / (lat["p50"] / 1000.0), "unit": "1/s", "n": len(passes)},
            "pass_p50_ms": {"value": lat["p50"], "unit": "ms", "n": len(passes)},
            "build_p50_ms": {"value": latency_summary(builds, 1000.0)["p50"], "unit": "ms", "n": len(builds)},
            "collect_p50_ms": {"value": latency_summary(execs, 1000.0)["p50"], "unit": "ms", "n": len(execs)},
            "warmup_s": {"value": warmup_s, "unit": "s"},
            "corpus_docs": {"value": N_DOCS, "unit": "docs", "kept": len(kept)},
        },
    }
    if trace:
        overhead = 100.0 * (replay_s - lat["p50"] / 1000.0) / (lat["p50"] / 1000.0)
        out["layers"] = {"trace.latency_overhead_pct": overhead}
    return out
