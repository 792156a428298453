"""Seeded input generators. The same seed always gives the same inputs, and
different seeds give inputs of the same size and shape, so runs on
different seeds measure the same amount of work."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def crawl_seeds(n_hosts: int, seed: int) -> list[str]:
    """One root URL per host in a seeded order and a seeded spelling (each
    spelling canonicalizes to the same root), plus a seeded duplicate."""
    rng = random.Random(seed)
    hosts = list(range(n_hosts))
    rng.shuffle(hosts)
    forms = ("http://h{k}.test/", "HTTP://H{k}.TEST/", "http://h{k}.test",
             "http://h{k}.test:80/")
    out = [rng.choice(forms).format(k=k) for k in hosts]
    return out + [forms[1].format(k=rng.choice(hosts))]


# -- streaming intake -------------------------------------------------------

def _spell(url_host: str, path: str, form: int) -> str:
    """A raw spelling of ``http://<host><path>`` that canonicalizes to it."""
    if form == 0:
        return f"http://{url_host}{path}"
    if form == 1:
        return f"HTTP://{url_host.upper()}{path}"
    if form == 2:
        return f"http://{url_host}:80{path}"
    return f"http://{url_host}/./{path.lstrip('/')}"


def intake_rounds(n_rounds: int, urls_per_round: int, n_hosts: int,
                  seed: int) -> list[tuple[pa.Table, set[str]]]:
    """Raw-URL files for ``n_rounds`` intake rounds, each with the set of
    canonical URLs it holds. Half of every file is fresh URLs, the other
    half re-sends URLs of earlier rounds (already admitted), and every URL
    appears in one of four spellings."""
    rng = np.random.default_rng(seed)
    fresh_per_round = urls_per_round // 2
    seen: list[str] = []
    out = []
    for r in range(n_rounds):
        hosts = rng.integers(0, n_hosts, fresh_per_round)
        fresh = [f"http://h{h}.test/p/{r}/{i}"
                 for i, h in enumerate(hosts)]
        old = ([seen[i] for i in rng.integers(0, len(seen),
                                               urls_per_round
                                               - fresh_per_round)]
               if seen else fresh[: urls_per_round - fresh_per_round])
        canon = fresh + old
        order = rng.permutation(len(canon))
        forms = rng.integers(0, 4, len(canon))
        raw = []
        for i in order:
            c = canon[i]
            host, path = c[len("http://"):].split("/", 1)
            raw.append(_spell(host, "/" + path, int(forms[i])))
        table = pa.table({
            "raw_url": pa.array(raw, pa.string()),
            "depth": pa.array(rng.integers(1, 4, len(raw)), pa.int32()),
            "priority": pa.array(rng.integers(0, 2, len(raw)), pa.int32()),
        })
        seen.extend(fresh)
        out.append((table, set(canon)))
    return out


# -- cleaning-pipeline documents ----------------------------------------------

_VOCAB = ("spark frontier crawl batch shard bloom arrow parquet vector "
          "column table query filter group order window stream merge join "
          "scan sort hash key value row data page link host fetch queue "
          "depth level seed cache index token text line span model score "
          "clean dedup cluster graph rank node edge path file block "
          "record field schema plan stage task job worker driver").split()
_BOILERPLATE = [
    "home about contact privacy terms of service all rights reserved",
    "subscribe to our newsletter for weekly updates and offers",
    "share this page on your favourite social network today",
    "cookies help us deliver our services by using them you agree",
    "skip to main content navigation menu search this site",
]


def _line(rng: np.random.Generator, lo: int = 20, hi: int = 30) -> list[str]:
    return [_VOCAB[i] for i in rng.integers(0, len(_VOCAB),
                                            rng.integers(lo, hi))]


def clean_docs(n_docs: int, seed: int) -> dict:
    """Documents for the cleaning pipeline with injected cases, one stage
    each: exact duplicates (emptied by line dedup), gibberish (LM filter),
    near duplicates (MinHash), repetitive docs (repetition filter) and PII.
    Returns the documents, the LM reference corpus and the doc ids of
    every injected case.
    """
    rng = np.random.default_rng(seed)
    # a fixed number of docs per case in a seeded order; the first 20 are
    # plain, so every copy has an earlier original to copy
    shares = {"exact": 0.07, "gibberish": 0.05, "near": 0.10,
              "repetitive": 0.06}
    cased = [k for k, s in shares.items() for _ in range(round(s * n_docs))]
    kinds = ["plain"] * 20 + list(rng.permutation(
        cased + ["plain"] * (n_docs - 20 - len(cased))))
    texts: list[str] = []
    plain: list[int] = []
    cases: dict[str, list[int]] = {k: [] for k in shares}
    for i, kind in enumerate(kinds):
        src = texts[plain[int(rng.integers(0, len(plain)))]] if plain \
            else ""
        if kind == "exact" and src:
            text = src
        elif kind == "near" and src:
            lines = []
            for ln in src.split("\n"):
                words = ln.split()
                words[len(words) // 2] = _VOCAB[int(rng.integers(
                    0, len(_VOCAB)))] + "x"
                lines.append(" ".join(words))
            text = "\n".join(lines)
        elif kind == "gibberish":
            text = "\n".join(" ".join(
                "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 7))
                for _ in range(int(rng.integers(20, 30))))
                for _ in range(3))
        elif kind == "repetitive":
            phrase = " ".join(_line(rng, 3, 4))
            text = " ".join([phrase] * 16)
        else:
            kind = "plain"
            lines = [" ".join(_line(rng)) for _ in range(rng.integers(3, 6))]
            if rng.random() < 0.3:
                lines.append(_BOILERPLATE[int(rng.integers(
                    0, len(_BOILERPLATE)))])
            if rng.random() < 0.1:
                lines[0] += f" mail user{i}@example.com or 10.0.{i % 250}.7"
            text = "\n".join(lines)
        if kind == "plain":
            plain.append(i)
        else:
            cases[kind].append(i)
        texts.append(text)
    ref = [" ".join(_line(rng)) for _ in range(400)]
    return {
        "docs": pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                          "text": pa.array(texts, pa.string())}),
        "lm_ref": pa.table({"text": pa.array(ref, pa.string())}),
        "cases": cases,
    }


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)
