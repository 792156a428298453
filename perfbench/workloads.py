"""The four benchmark workloads. Each drives only public surfaces of the
engine and checks its own outputs.

A workload object has:
  * ``generate()`` — writes the seeded inputs (timed, part of setup_s);
  * ``expect()`` — computes what the output checks compare against
    (untimed: checking is not the engine's setup);
  * ``warm()`` — warm-up until steady (timed, part of setup_s);
  * ``op()`` — one closed-loop step, returning one ``Op`` per operation;
  * ``finish()`` — output checks that need the whole run, returning the
    number of operations they fail;
  * ``install(tracer)`` — wraps engine calls in spans for the traced run;
  * ``detail(tracer, ops, jobs)`` — the per-layer table of the traced run.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import inputs
import spans as T

# Sizes are orientation choices for a 4-core box: big enough that the
# layer each workload targets dominates, small enough that one run of the
# whole benchmark fits its time budget. "tiny" is the smoke-test size.
SIZES = {
    "crawl_loop": {"full": dict(hosts=4, pages=120, depth=3, budget=12,
                                batches=2),
                   "tiny": dict(hosts=3, pages=90, depth=3, budget=6,
                                batches=2)},
    "frontier_level": {"full": dict(hosts=24, pages=24000),
                       "tiny": dict(hosts=3, pages=300)},
    "intake_stream": {"full": dict(urls=4000, rounds=3, hosts=40),
                      "tiny": dict(urls=400, rounds=3, hosts=4)},
    "clean_pipeline": {"full": dict(docs=400),
                       "tiny": dict(docs=200)},
}


@dataclass
class Op:
    secs: float
    items: int
    ok: bool = True
    note: str = ""
    extra: dict = field(default_factory=dict)


class Workload:
    def __init__(self, spark, seed: int, work: str, size: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.p = SIZES[self.name][size]
        self.size = size

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def expect(self) -> None:
        pass

    def finish(self) -> int:
        return 0

    def exhausted(self) -> bool:
        return False

    def install(self, tracer: T.Tracer) -> None:
        pass


def _store_spans(tracer: T.Tracer) -> None:
    """Spans on the snapshot store, the bloom filter and the operator
    calls the crawl loop and the streaming intake make."""
    from roddy_spark.operators import dedup
    from roddy_spark.plans import crawl
    from roddy_spark.streaming import frontier

    S = crawl.SnapshotStore
    tracer.wrap(S, "write_visited", "store.write.visited")
    tracer.wrap(S, "write", lambda a, kw: f"store.write.{a[2]}")
    tracer.wrap(S, "read", "store.read")
    tracer.wrap(S, "read_visited", "store.read")
    tracer.wrap(S, "commit_manifest", "store.manifest")
    tracer.wrap(dedup.ShardedBloom, "add", "bloom.merge")
    tracer.wrap(dedup.ShardedBloom, "merge", "bloom.merge")
    tracer.wrap(dedup, "build_visited_bloom", "bloom.build")
    tracer.wrap(frontier, "build_visited_bloom", "bloom.build")
    for mod in (crawl, frontier):
        tracer.wrap(mod, "admit", "op.admit")
    tracer.wrap(crawl, "politeness_split", "op.politeness")
    tracer.wrap(crawl, "expand", "op.expand")


def _spans_in(tracer: T.Tracer, lo: float, hi: float) -> list[T.Span]:
    return [s for s in tracer.spans if lo <= s.start and s.end <= hi]


# -- crawl_loop --------------------------------------------------------------

class CrawlLoop(Workload):
    """``Crawler.run`` over a seeded Zipf web, with a per-host budget that
    defers work on the big hosts, the bloom filter on and a bucketed
    visited table, stopped after ``batches`` batches. The warm-up runs the
    crawl's first batch (it pays the cold start); the timed phase resumes
    the same crawl from its checkpoint and runs the rest. One operation is
    one frontier batch, and a run measures the resumed crawl once."""

    name = "crawl_loop"

    def generate(self) -> None:
        from roddy_spark.sources.synthweb import WebConfig, synthweb_df
        self.web_cfg = WebConfig(n_hosts=self.p["hosts"],
                                 n_pages=self.p["pages"], n_corpus=100,
                                 seed=self.seed)
        synthweb_df(self.spark, self.web_cfg, partitions=4).write.mode(
            "overwrite").parquet(self.path("web"))
        self.seeds = inputs.crawl_seeds(self.p["hosts"], self.seed)

    def _config(self):
        from roddy_spark.config import CrawlConfig
        return CrawlConfig(max_depth=self.p["depth"],
                           per_host_budget=self.p["budget"], bloom_mode="on",
                           visited_buckets=8)

    def _crawler(self, max_batches: int):
        from roddy_spark.plans.crawl import Crawler
        return Crawler(self.spark, self._config(), self.pages,
                       self.path("ckpt"), max_batches=max_batches)

    def expect(self) -> None:
        """The scalar oracle's visited table for the same crawl."""
        from roddy_spark.oracle import crawl_oracle, pages_dict_from_pandas
        from roddy_spark.sources.synthweb import synthweb_pandas
        pages = pages_dict_from_pandas(synthweb_pandas(self.web_cfg))
        res = crawl_oracle(pages, self.seeds, self._config(),
                           max_batches=self.p["batches"])
        self.oracle = sorted((u, d, s) for u, d, s, _ in res.admitted)

    def warm(self) -> None:
        self.pages = self.spark.read.parquet(self.path("web"))
        self._crawler(1).run(self.seeds)
        self.ran, self.state = False, None

    def op(self) -> list[Op]:
        self.ran = True
        crawler = self._crawler(self.p["batches"])
        store = crawler.store
        commit = store.commit_manifest
        marks = [time.perf_counter()]
        pending = []

        def timed_commit(m):
            commit(m)
            marks.append(time.perf_counter())
            pending.append(m.get("pending_n", 0))

        store.commit_manifest = timed_commit
        self.state = crawler.run(resume=True)
        # the k-th commit closes the k-th resumed batch (the first one's
        # time includes the resume itself); the last commit marks the crawl
        # done and closes no batch
        self.ops = [Op(marks[k + 1] - marks[k],
                       b["fetched"] + b["candidates"],
                       extra=dict(b, pending=pending[k], start=marks[k],
                                  end=marks[k + 1]))
                    for k, b in enumerate(self.state.batches[1:])]
        return self.ops

    def exhausted(self) -> bool:
        return self.ran

    def finish(self) -> int:
        """Compare the crawl's visited table with the oracle (after the
        timed phase, so checking costs no measured time)."""
        if self.state is None:  # the crawl raised: counted as failed
            return 0
        n = len(self.state.batches) - 1
        rows = self.state.visited(self.spark).select(
            "url_norm", "depth", "seq").collect()
        bad = []
        if sorted((r[0], r[1], r[2]) for r in rows) != self.oracle:
            bad.append("visited (url_norm, depth, seq) != crawl_oracle")
        log = [o.extra for o in self.ops]
        guards = [
            (n == self.p["batches"] - 1, "crawl ended before its last batch"),
            (sum(b["fetched"] for b in log) > 0, "nothing fetched"),
            (sum(b["admitted"] for b in log) > 0, "nothing admitted"),
            (any(b["pending"] for b in log), "politeness never deferred"),
        ]
        bad += [msg for ok, msg in guards if not ok]
        for msg in bad:
            print(f"check failed: crawl_loop: {msg}", file=sys.stderr)
        return n if bad else 0

    def install(self, tracer):
        _store_spans(tracer)
        from roddy_spark.plans import crawl
        tracer.wrap(crawl.Crawler, "run", "crawl.run")

    def detail(self, tracer, ops, jobs):
        n = len(ops)
        spans = [s for o in ops
                 for s in _spans_in(tracer, o.extra["start"],
                                    o.extra["end"])]
        self_s = T.self_times(spans)
        # every span inside a batch, by name, so that the listed self
        # times plus crawl.unattributed_s add up to the batch wall
        names = [f"store.write.{t}" for t in ("visited", "pending",
                                              "fetches", "candidates",
                                              "metrics")]
        names += ["store.read", "store.manifest", "bloom.merge",
                  "bloom.build", "op.admit", "op.politeness", "op.expand"]
        out = {f"{k}_s": self_s.get(k, 0.0) / n
               for k in names + sorted(set(self_s) - set(names))}
        out["crawl.batch_wall_s"] = sum(o.extra["end"] - o.extra["start"]
                                        for o in ops) / n
        out["crawl.unattributed_s"] = out["crawl.batch_wall_s"] - \
            sum(self_s.values()) / n
        runs = tracer.tags_under("crawl.run")
        out["spark.jobs_per_batch"] = sum(
            bool(runs & set(j["tags"])) for j in jobs) / n
        cand = sum(o.extra["candidates"] for o in ops)
        adm = sum(o.extra["admitted"] for o in ops)
        fetched = sum(o.extra["fetched"] for o in ops)
        pool = sum(o.extra["fetched"] + o.extra["pending"] for o in ops)
        out["admission.yield"] = adm / max(cand, 1)
        out["politeness.deferred_frac"] = \
            sum(o.extra["pending"] for o in ops) / max(pool, 1)
        out["fetch.success_frac"] = \
            sum(o.extra["success"] for o in ops) / max(fetched, 1)
        out["expand.children_per_page"] = cand / max(fetched, 1)
        out["useful_frac"] = out["admission.yield"]
        return out


# -- frontier_level ----------------------------------------------------------

LEVEL_STAGES = ("canonicalize", "admit", "politeness", "fetch", "expand")


class FrontierLevel(Workload):
    """One fat frontier level in the shape of ``bench.py``'s headline:
    every page URL twice, in seeded de-canonicalized spellings, 30% of them
    already visited, through admit -> politeness_split -> fetch_join ->
    expand into a noop sink. One operation is one level."""

    name = "frontier_level"

    def generate(self) -> None:
        from roddy_spark.sources.synthweb import WebConfig, synthweb_df
        cfg = WebConfig(n_hosts=self.p["hosts"], n_pages=self.p["pages"],
                        n_corpus=100, seed=self.seed)
        synthweb_df(self.spark, cfg, partitions=8).write.mode(
            "overwrite").parquet(self.path("web"))
        self.pages = self.spark.read.parquet(self.path("web"))

    def _visited_mask(self, h: int) -> bool:
        return (h % 1000 + 37 * self.seed) % 1000 < 300

    def warm(self) -> None:
        from pyspark.sql import functions as F

        from roddy_spark.config import CrawlConfig
        from roddy_spark.functions import urls as U
        self.cfg = CrawlConfig(disallowed_url_filters=(r"/missing/",),
                               per_host_budget=1_000_000)
        pages = self.pages
        rest = F.expr("substr(url, 8 + length(host))")
        variant = F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(4))

        def spelled(v):
            return (F.when(v == 0, F.concat(F.lit("HTTP://"),
                                            F.upper("host"), rest))
                    .when(v == 1, F.concat(F.lit("http://"), F.col("host"),
                                           F.lit(":80"), rest))
                    .when(v == 2, F.col("url"))
                    .otherwise(F.concat(F.lit("http://"), F.col("host"),
                                        F.lit("/."), rest)))

        def copy(pos, v):
            return pages.select(
                spelled(v).alias("raw_url"), F.lit(2).alias("depth"),
                F.lit(1).alias("priority"),
                F.xxhash64("url").alias("parent_seq"),
                F.lit(pos).alias("pos"),
                F.create_map().cast("map<string,string>").alias("ctx"))

        raw = copy(0, variant).unionByName(
            copy(1, F.pmod(variant + 1, F.lit(4))))
        self.cand = (raw.withColumn("url_norm", U.canonicalize("raw_url"))
                     .filter(F.col("url_norm").isNotNull()).drop("raw_url"))
        h = F.pmod(F.xxhash64("url"), F.lit(1000))
        self.visited = pages.select(
            F.xxhash64("url").alias("url_hash"),
            h.alias("h")).filter(
            F.pmod(F.col("h") + F.lit(37 * self.seed), F.lit(1000)) < 300
        ).select("url_hash")
        self.n_candidates = 2 * pages.count()
        for _ in range(3):
            self.op()

    def chain(self, upto: str):
        """The level's operator chain up to and including stage ``upto``,
        with Observations counting admitted rows and children."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from roddy_spark.fetch import fetch_join
        from roddy_spark.operators.admission import admit
        from roddy_spark.operators.politeness import politeness_split
        from roddy_spark.plans.crawl import expand
        stop = LEVEL_STAGES.index(upto)
        if stop == 0:
            return self.cand, None, {}
        obs = {"admitted": Observation()}
        admitted = admit(self.cand, self.cfg, self.visited, None, None, 0)
        admitted = admitted.observe(obs["admitted"],
                                    F.count(F.lit(1)).alias("n"))
        if stop == 1:
            return admitted, None, obs
        to_fetch, _deferred = politeness_split(
            admitted, self.cfg.per_host_budget, self.cfg.salt_buckets)
        if stop == 2:
            return to_fetch, None, obs
        # the fetch reads to_fetch in several plan branches: persist so
        # admission and politeness run once (the crawl loop gets this from
        # its snapshot write and re-read)
        to_fetch = to_fetch.persist()
        fetched = fetch_join(to_fetch, self.pages,
                             frontier_rows=400_000).withColumn(
            "batch", F.lit(1))
        if stop == 3:
            return fetched, to_fetch, obs
        obs["children"] = Observation()
        children = expand(fetched).observe(
            obs["children"], F.count(F.lit(1)).alias("n"))
        return children, to_fetch, obs

    def _run(self, upto: str) -> tuple[float, dict]:
        from roddy_spark.operators.rank import release_rank_caches
        t0 = time.perf_counter()
        df, persisted, obs = self.chain(upto)
        df.write.format("noop").mode("overwrite").save()
        secs = time.perf_counter() - t0
        if persisted is not None:
            persisted.unpersist()
        release_rank_caches()
        return secs, {k: int(o.get["n"]) for k, o in obs.items()}

    def op(self) -> list[Op]:
        secs, counts = self._run("expand")
        want = {"admitted": self.exp_admitted,
                "children": self.exp_children}
        ok = counts == want
        return [Op(secs, self.n_candidates, ok,
                   "" if ok else f"counts {counts} != {want}",
                   dict(counts))]

    def _web_rows(self):
        if not hasattr(self, "_rows"):
            self._rows = [r.asDict(recursive=True) for r in self.pages.select(
                "url", "status", "content_type", "base_href",
                "links").collect()]
        return self._rows

    @staticmethod
    def _children_of(page: dict) -> list[tuple[int, str, int, int]]:
        """(pos, child url, depth, priority) per link, recomputed with the
        scalar oracle kernels (parents sit at depth 2)."""
        from roddy_spark.oracle import canonicalize_url, resolve_url
        ok = page["status"] < 400 and (
            page["content_type"] == "text/html" or page["status"] >= 300)
        if not ok:
            return []
        base = page["url"]
        if page["base_href"]:
            base = resolve_url(page["url"], page["base_href"]) or base
        out = []
        for ln in page["links"] or []:
            r = resolve_url(base, ln["href"])
            c = canonicalize_url(r) if r is not None else None
            if c is not None:
                nxt = ln["rel"] == "next"
                out.append((ln["pos"], c, 2 if nxt else 3, 0 if nxt else 1))
        return out

    def expect(self) -> None:
        """Admitted and child counts, recomputed with the scalar kernels."""
        from roddy_spark.functions.urlkernel import url_hash
        adm = kids = 0
        self.parents = {}
        for page in self._web_rows():
            if "/missing/" in page["url"] or \
                    self._visited_mask(url_hash(page["url"])):
                continue
            adm += 1
            kids += len(self._children_of(page))
            self.parents[page["url"]] = page
        self.exp_admitted, self.exp_children = adm, kids

    def finish(self) -> int:
        """Recompute the children of a seeded ~1% sample of parents with
        the scalar oracle kernels and compare them row for row."""
        from pyspark.sql import functions as F
        children, to_fetch, _ = self.chain("expand")
        pick = F.pmod(F.xxhash64("url_norm", F.lit(self.seed)),
                      F.lit(100)) == 0
        parents = to_fetch.filter(pick).select(
            F.col("seq").alias("parent_seq"),
            F.col("url_norm").alias("parent"))
        rows = children.join(parents, "parent_seq").select(
            "parent", "pos", "url_norm", "depth", "priority").collect()
        to_fetch.unpersist()
        got: dict[str, set] = {}
        for r in rows:
            got.setdefault(r["parent"], set()).add(
                (r["pos"], r["url_norm"], r["depth"], r["priority"]))
        sampled = self.spark.createDataFrame(
            [(u,) for u in self.parents], "url string").filter(
            F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(100)) == 0
        ).collect()
        bad = 0
        for (u,) in sampled:
            want = set(self._children_of(self.parents[u]))
            if got.get(u, set()) != want:
                bad += 1
                print(f"check failed: frontier_level: children of {u}",
                      file=sys.stderr)
        if not sampled:
            print("check failed: frontier_level: empty parent sample",
                  file=sys.stderr)
            bad = 1
        return 1 if bad else 0

    def prefix_op(self) -> dict[str, float]:
        """Traced operation: time each growing prefix of the chain."""
        return T.prefix_differences(
            [(s, self._run(s)[0]) for s in LEVEL_STAGES])

    def detail(self, tracer, ops, jobs):
        n = len(ops)
        out = {}
        for s in LEVEL_STAGES:
            out[f"level.{s}_s"] = statistics.median(
                o.extra["prefix"][s] for o in ops)
        out["level.shuffle_bytes"] = sum(
            j["shuffle_b"] for j in jobs) / n
        out["admission.yield"] = self.exp_admitted / self.n_candidates
        out["expand.children_per_page"] = \
            self.exp_children / max(self.exp_admitted, 1)
        out["useful_frac"] = out["admission.yield"]
        return out


# -- intake_stream -----------------------------------------------------------

class IntakeStream(Workload):
    """Rounds of the streaming intake: each drops one seeded parquet file
    of raw URLs (half of them already admitted) into the watched directory
    and calls ``FrontierIngest.run_available_now()``, with the bloom filter
    on and a bucketed visited table. One operation is one round. After one
    warm-up round a run times the two generated rounds left: a fixed count,
    so the first timed round (the first to anti-join a non-empty visited
    table, the slowest) always weighs the same in the run."""

    name = "intake_stream"

    def generate(self) -> None:
        self.rounds = inputs.intake_rounds(
            self.p["rounds"], self.p["urls"], self.p["hosts"], self.seed)
        os.makedirs(self.path("src"), exist_ok=True)
        for i, (table, _) in enumerate(self.rounds):
            inputs.write_parquet(table, self.path("src", f"r{i:03d}.parquet"))

    def warm(self) -> None:
        from roddy_spark.config import CrawlConfig
        from roddy_spark.streaming.frontier import FrontierIngest
        os.makedirs(self.path("intake"), exist_ok=True)
        self.ingest = FrontierIngest(
            self.spark, CrawlConfig(bloom_mode="on", visited_buckets=8),
            self.path("intake"), self.path("store"), self.path("stream"))
        self.next_round = 0
        self.expected: set[str] = set()
        self.admitted = 0
        # the first round starts the query cold
        self.op()

    def op(self) -> list[Op]:
        i = self.next_round
        self.next_round += 1
        table, canon = self.rounds[i]
        self.expected |= canon
        name = f"r{i:03d}.parquet"
        t0 = time.perf_counter()
        os.replace(self.path("src", name), self.path("intake", name))
        total = self.ingest.run_available_now()
        secs = time.perf_counter() - t0
        ok = total == len(self.expected)
        new, self.admitted = total - self.admitted, total
        return [Op(secs, table.num_rows, ok,
                   "" if ok else f"admitted {total} != "
                                 f"{len(self.expected)} distinct",
                   {"start": t0, "end": t0 + secs, "new": new})]

    def exhausted(self) -> bool:
        return self.next_round >= len(self.rounds)

    def finish(self) -> int:
        from pyspark.sql import functions as F
        v = self.ingest.visited()
        row = v.agg(F.count(F.lit(1)).alias("n"),
                    F.countDistinct("url_hash").alias("d")).first()
        if row["n"] != row["d"] or row["n"] != len(self.expected):
            print(f"check failed: intake_stream: visited rows {row['n']}, "
                  f"distinct hashes {row['d']}, expected "
                  f"{len(self.expected)}", file=sys.stderr)
            return 1
        return 0

    def install(self, tracer):
        _store_spans(tracer)
        from roddy_spark.streaming.frontier import FrontierIngest
        tracer.wrap(FrontierIngest, "run_available_now", "intake.round")
        tracer.wrap(FrontierIngest, "_process_batch", "intake.epoch")

    def detail(self, tracer, ops, jobs):
        n = len(ops)
        spans = [s for o in ops
                 for s in _spans_in(tracer, o.extra["start"],
                                    o.extra["end"])]
        self_s = T.self_times(spans)
        # the round's own self time is the streaming query's start and
        # stop around its epochs; every span is listed, so the self times
        # plus intake.unattributed_s add up to the round wall
        out = {"intake.query_start_s": self_s.pop("intake.round", 0.0) / n,
               "intake.admit_write_s":
                   self_s.pop("store.write.visited", 0.0) / n}
        out.update({f"{k}_s": v / n for k, v in sorted(self_s.items())})
        out["intake.round_wall_s"] = sum(o.secs for o in ops) / n
        out["intake.unattributed_s"] = out["intake.round_wall_s"] - sum(
            v for k, v in out.items() if k != "intake.round_wall_s")
        out["intake.jobs_per_round"] = len(jobs) / n
        out["useful_frac"] = sum(o.extra["new"] for o in ops) / sum(
            o.items for o in ops)
        return out


# -- clean_pipeline ----------------------------------------------------------

# submit_clean's counts, in the order the script calls them with
# --line-dedup --lm-ref: each re-runs the uncached lineage before it, so
# consecutive counts time growing prefixes.
CLEAN_COUNTS = ("load", "line_dedup", "lm", "recount")
# share of input docs each stage may remove: (low, high), from the rates
# inputs.clean_docs injects
CLEAN_BANDS = {
    "line_dedup_emptied": (0.03, 0.12),
    "lm_removed": (0.02, 0.09),
    "near_dup_removed": (0.04, 0.16),
    "repetitive_removed": (0.02, 0.11),
}


class CleanPipeline(Workload):
    """``scripts/submit_clean.py`` in-process over seeded documents, with
    line dedup and an LM reference. One operation is one pipeline run, and
    a run makes one, in the fresh session: like every spark-submit of the
    script it runs cold (a warm-up run would cost as much as the run
    itself). ``--eval-set`` is left out to fit the benchmark's time budget,
    and ``--span-dedup`` because at the parent commit any submit_clean run
    with it fails in Spark, see README.md."""

    name = "clean_pipeline"

    def generate(self) -> None:
        d = inputs.clean_docs(self.p["docs"], self.seed)
        for k in ("docs", "lm_ref"):
            inputs.write_parquet(d[k], self.path(f"{k}.parquet"))
        self.cases = d["cases"]
        self.n_docs = d["docs"].num_rows

    def warm(self) -> None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "submit_clean", os.path.join(root, "scripts", "submit_clean.py"))
        self.script = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.script)
        self.argv = ["submit_clean.py", "--docs", self.path("docs.parquet"),
                     "--out", self.path("out"), "--line-dedup",
                     "--lm-ref", self.path("lm_ref.parquet")]
        self.ran = False

    def _pipeline(self) -> dict:
        """One submit_clean run in this session: the script's closing
        ``spark.stop()`` is suppressed and its JSON line captured."""
        from pyspark.sql import SparkSession
        stop, argv = SparkSession.stop, sys.argv
        buf = io.StringIO()
        SparkSession.stop = lambda self: None
        sys.argv = list(self.argv)
        try:
            with contextlib.redirect_stdout(buf):
                self.script.main()
        finally:
            SparkSession.stop, sys.argv = stop, argv
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def _outputs(self) -> tuple[str, list[int], list[str]]:
        import pyarrow.parquet as pq
        t = pq.read_table(self.path("out")).to_pydict()
        rows = sorted(zip(t["doc_id"], t["text"]))
        digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
        return digest, [r[0] for r in rows], [r[1] for r in rows]

    def _check(self, counts: dict) -> list[str]:
        digest, ids, texts = self._outputs()
        errs = []
        result = {"digest": digest, **counts}
        pinned = _pins().get(str(self.seed)) if self.size == "full" \
            else None
        if pinned is not None and pinned != result:
            errs.append("output differs from the values pinned for the seed")
        if counts["kept"] != len(set(ids)) or len(ids) != len(set(ids)):
            errs.append("kept != distinct output doc ids")
        kept = set(ids)
        for case in ("exact", "gibberish"):
            left = kept & set(self.cases.get(case, ()))
            if left:
                errs.append(f"{len(left)} injected {case} docs kept")
        if any("@example.com" in t for t in texts):
            errs.append("PII left in output")
        for stage, (lo, hi) in CLEAN_BANDS.items():
            share = counts[stage] / counts["input_docs"]
            if not lo <= share <= hi:
                errs.append(f"{stage} share {share:.3f} outside "
                            f"[{lo}, {hi}]")
        return errs

    def op(self) -> list[Op]:
        self.ran = True
        t0 = time.perf_counter()
        self.counts = self._pipeline()
        secs = time.perf_counter() - t0
        return [Op(secs, self.n_docs, extra={"start": t0, "end": t0 + secs,
                                             "counts": self.counts})]

    def exhausted(self) -> bool:
        return self.ran

    def finish(self) -> int:
        """Check the run's output (after the timed phase)."""
        if not hasattr(self, "counts"):  # the run raised: counted as failed
            return 0
        errs = self._check(self.counts)
        for e in errs:
            print(f"check failed: clean_pipeline: {e}", file=sys.stderr)
        return 1 if errs else 0

    def install(self, tracer):
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from roddy_spark.operators import textdedup
        tracer.wrap(DataFrame, "count", "clean.count")
        tracer.wrap(DataFrameWriter, "parquet", "clean.scrub_write")
        tracer.wrap(textdedup, "canonical_docs", "clean.minhash_components")

    def detail(self, tracer, ops, jobs):
        per_op = []
        for o in ops:
            inside = _spans_in(tracer, o.extra["start"], o.extra["end"])
            sids = {s.sid for s in inside}
            # the script's own calls, in order (counts nested in
            # canonical_docs belong to it); durations are whole spans
            top = sorted((s for s in inside if s.parent not in sids),
                         key=lambda s: s.start)
            counts = dict(zip(CLEAN_COUNTS, (s.dur for s in top
                                             if s.name == "clean.count")))
            dur = {s.name: s.dur for s in top if s.name != "clean.count"}
            d = T.prefix_differences([(c, counts.get(c, 0.0))
                                      for c in CLEAN_COUNTS[:3]])
            # the write re-runs the lm prefix, then the join with the
            # cluster keepers, the repetition filter and the PII scrub
            d["repetition_scrub_write"] = dur.get(
                "clean.scrub_write", 0.0) - counts.get("lm", 0.0)
            d["minhash_components"] = dur.get("clean.minhash_components",
                                              0.0)
            d["recount"] = counts.get("recount", 0.0)
            # the run's time outside every traced call: argument parsing
            # and plan building on the driver, and jobs no span covers
            d["unattributed"] = o.secs - sum(s.dur for s in top)
            per_op.append(d)
        out = {f"clean.{k}_s": statistics.median(d[k] for d in per_op)
               for k in per_op[0]}
        out["clean.jobs"] = len(jobs) / len(ops)
        c = ops[0].extra["counts"]
        out["useful_frac"] = c["kept"] / c["input_docs"]
        return out


def _pins() -> dict:
    """clean_pipeline outputs pinned per seed (``clean_pins.json``)."""
    p = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "clean_pins.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)

WORKLOADS = {w.name: w for w in (CrawlLoop, FrontierLevel, IntakeStream,
                                 CleanPipeline)}
