"""One benchmark run of one workload, in a fresh process.

Started by run.py with the checkout on PYTHONPATH and a private temp root
as the working directory. Generates the inputs from the seed, starts the
engine session, runs the workload as a single closed-loop client, checks
every operation's output, and writes the result JSON to --out.

Both workloads run the same five classes of operation, each on its own
subsystem, through the plan and operator functions the CLI verbs call:

    class   ct_store                        llm_curate
    cold    `fetch --store`, first of the   first `curate` drop, into an
            process                         empty workdir
    write   `fetch --store` into a fresh    the next `curate` drop (the
            store                           same operation as update)
    update  `fetch --append`                next `curate` drop into the
                                            same workdir
    scan    `statistics --store` report     `dedup` daemon exact probe of
                                            a document batch
    lookup  `getcert` point read            `dedup` daemon exact probe of
                                            one document

so every end-to-end and per-layer metric is measured on every workload.
"""

from __future__ import annotations

import argparse
import gzip
import json
import math
import os
import random
import re
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402

# llm_curate: the documents of one scan (hits are documents the index
# holds, misses text no page has).
SCAN_HITS = 56
SCAN_MISSES = 8
# llm_curate: the LM gate's threshold in micro-nats per token. Generated
# pages score well under it under the model trained on the generated
# reference; the planted pages of unseen tokens score the OOV penalty,
# well over it.
LM_MAX_XENT = 8_000_000
# The session's own 48g heap cap lets the driver heap grow as far as the
# collector's sizing takes it on a host with far less memory; the
# benchmark caps it, so runs stay within the host's memory and peak RSS
# compares like with like.
DRIVER_MEMORY = "4g"
# operation classes whose ledger rows are reported as spark.<class>.<field>
CLASSES = ("cold", "write", "update", "scan", "lookup")
CURATE_STAGES = (
    "extract",
    "quality",
    "lm_gate",
    "decontam",
    "dedup_sign",
    "dedup_exact_probe",
    "dedup_near_probe",
    "dedup_within",
    "dedup_fold",
    "mixture",
    "pii",
    "pack_export",
)


class Run:
    """Operation bookkeeping shared by the workloads."""

    def __init__(self, spark, tracer: spans.Tracer, seconds: float):
        self.spark = spark
        self.tr = tracer
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = {}
        # per-layer metrics, measured on every workload
        self.per_layer: dict[str, float] = {}
        # the traced run's detail on the workload's own modules, written
        # to standard error and the ledger file
        self.layers: dict[str, float] = {}

    def op(self, kind: str, fn, check):
        """Run one operation and record its wall, then check its output.
        `check` returns None or a problem; a problem or a raised error
        counts as a failed operation."""
        self.attempted += 1
        out = None
        try:
            with self.tr.op(kind):
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
            self.walls.setdefault(kind, []).append(wall)
            problem = check(out)
        except Exception as e:  # noqa: BLE001 — counted and reported
            problem = f"{type(e).__name__}: {e}"
        self.expect(problem is None, f"{kind} op {self.attempted - 1}: {problem}")
        return out

    def expect(self, ok: bool, what: str) -> None:
        """Count and report a failure unless `ok`."""
        if not ok:
            self.failed += 1
            print(f"FAILED {what}"[:2000], file=sys.stderr)

    def median_wall(self, kind: str) -> float | None:
        return _median(self.walls.get(kind, []))

    def check_only(self, ok: bool, what: str) -> None:
        """A check outside any timed operation; it counts as one."""
        self.attempted += 1
        self.expect(ok, what)


def _median(xs):
    return statistics.median(xs) if xs else None


def _files(path: str, suffix: str = "") -> set[str]:
    return {
        os.path.join(r, n)
        for r, _, names in os.walk(path)
        for n in names
        if n.endswith(suffix) and not n.startswith(".")
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n)) for r, _, names in os.walk(path) for n in names
    )


def _same(n, want, what):
    return None if n == want else f"{what} {n}, want {want}"


class Workload:
    """What both workloads share: the read schedule and the end-to-end
    metrics. A read is a scan and `lookups_per_read` lookups, and every
    `miss_every`-th lookup of the run is a miss. A subclass provides
    `_scan()` with its check `_check_scan(out)`, `_lookup(i)`, which
    returns an operation and its check for the i-th lookup of the run,
    and `write_kind`, the operation kind its warm bulk write runs as."""

    def _reads(self, warmup: bool = False) -> None:
        """One scan, then a burst of lookups. The warm-up read, a scan
        and one lookup, is left out of the metrics: the first of each in a
        process runs much longer than later ones."""
        suffix = "_warmup" if warmup else ""
        self.run.op("scan" + suffix, self._scan, self._check_scan)
        for _ in range(1 if warmup else self.lookups_per_read):
            self.n_lookups += 1
            fn, check = self._lookup(self.n_lookups)
            self.run.op("lookup" + suffix, fn, check)

    def e2e(self, items: int, bytes_per_item: float | None) -> dict:
        run = self.run
        write = run.median_wall(self.write_kind)
        lookup = run.median_wall("lookup")
        return {
            "cold_op_s": (run.median_wall("cold"), "s"),
            "write_items_per_s": (write and items / write, "1/s"),
            "update_p50_s": (run.median_wall("update"), "s"),
            "stored_bytes_per_item": (bytes_per_item, "B"),
            "scan_p50_s": (run.median_wall("scan"), "s"),
            "lookup_p50_ms": (lookup and lookup * 1e3, "ms"),
        }

    def lookup_tail(self) -> None:
        ms = sorted(w * 1e3 for w in self.run.walls.get("lookup", []))
        # nearest rank: defined for a single lookup, and never past the
        # slowest one
        self.run.per_layer["lookup.p95_ms"] = ms[math.ceil(0.95 * len(ms)) - 1]


# --- ct_store ----------------------------------------------------------------


class CtStore(Workload):
    """The CT store lifecycle: `fetch --store`, `fetch --append`,
    `statistics --store` and point reads, on one store.

    The cold fetch writes store0 from the base slice. The first drop's
    append into store0 and one read of it are the warm-up. The timed loop
    then runs whole identical cycles until --seconds have passed (one
    cycle takes longer than a run's --seconds on a 4-core host, so there
    it is exactly one). Each cycle

    - fetches the base slice into a fresh store, twice (write path: dedup
      shuffle, partitioned write);
    - appends the second drop into a fresh copy of store0, so every timed
      append meets the same two-generation store (anti-join against
      stored keys, append, leaf-count merge);
    - reads store0 twice, between the writes (read path: scans, file
      opens, pruning, planning). store0 itself is never written in the
      loop.

    In the traced run each warm fetch is preceded by an `ingest`
    operation that forces `ingest_batch` alone through the noop sink, so
    the fetch operation's ledger row covers only what the CLI runs."""

    write_kind = "write"
    lookups_per_read = 8
    miss_every = 8

    def generate(self, work: str, seed: int) -> None:
        self.work = work
        self.truth = gen.ct_inputs(os.path.join(work, "inputs"), seed)
        self.rng = random.Random(f"lookups-{seed}")
        self.n_lookups = 0

    def setup(self, run: Run) -> None:
        self.run = run
        sp = run.spark
        self.src = {s["name"]: sp.read.parquet(s["path"]) for s in self.truth["sets"]}

    # write path

    def _ingest_only(self) -> None:
        from ct_mapreduce_spark.plans.ingest import ingest_batch

        with self.run.tr.span("plans.ingest.ingest_batch"):
            ingest_batch(self.src["base"], now=gen.NOW).write.format("noop").mode(
                "overwrite"
            ).save()

    def _fetch(self, store: str) -> int:
        from ct_mapreduce_spark.plans.ingest import ingest_batch, write_store

        tr, sp = self.run.tr, self.run.spark
        with tr.span("sources.sinks.write_store"):
            write_store(ingest_batch(self.src["base"], now=gen.NOW), store)
        return sp.read.parquet(store).count()

    def _append(self, store: str, name: str) -> int:
        from ct_mapreduce_spark.operators.statistics import update_leaf_counts
        from ct_mapreduce_spark.plans.ingest import ingest_batch
        from ct_mapreduce_spark.sources.sinks import append_new_to_store

        tr = self.run.tr
        deduped = ingest_batch(self.src[name], now=gen.NOW)
        with tr.span("sources.sinks.append_new_to_store"):
            n, fresh = append_new_to_store(deduped, store)
        with tr.span("operators.statistics.update_leaf_counts"):
            update_leaf_counts(self.run.spark, store + "_leaf_counts", fresh)
        return n

    def _check_store(self, store: str, want: int) -> None:
        sp = self.run.spark
        n_store = sp.read.parquet(store).count()
        leaf = sp.read.parquet(store + "_leaf_counts").agg({"n_serials": "sum"})
        leaf_total = leaf.collect()[0][0]
        self.run.check_only(
            n_store == want and leaf_total == want,
            f"{store}: store {n_store}, leaf total {leaf_total}, want {want}",
        )

    # read path

    def _scan(self):
        from ct_mapreduce_spark.operators.metadata import issuer_metadata
        from ct_mapreduce_spark.operators.statistics import full_report, stats_rollup

        tr, sp = self.run.tr, self.run.spark
        detail = sp.read.parquet(self.store0)
        with tr.span("operators.statistics.stats_rollup"):
            rollup = stats_rollup(detail).collect()
        with tr.span("operators.statistics.full_report"):
            report = full_report(detail, issuer_metadata(detail)).collect()
        return rollup, report

    def _check_scan(self, out) -> str | None:
        rollup, report = out
        want = len(self.keys)
        total = [r.n_serials for r in rollup if r.g_issuer == 1 and r.g_exp == 1]
        per_issuer = sum(r.n_serials for r in report)
        if total != [want] or per_issuer != want:
            return f"grand total {total}, per-issuer sum {per_issuer}, want {want}"
        return None

    def _lookup(self, i: int):
        from ct_mapreduce_spark.plans.point_lookup import get_cert

        if i % self.miss_every == 0:
            key, want = self.rng.choice(self.truth["misses"]), None
        else:
            key = self.keys[self.rng.randrange(len(self.keys))]
            want = self.truth["winners"][key]
        exp, issuer, serial = key
        detail = self.run.spark.read.parquet(self.store0)

        def check(rows):
            if want is None:
                return None if not rows else f"miss {key} returned {len(rows)} rows"
            if len(rows) != 1 or rows[0].entry_id != want or rows[0].serial != serial:
                got = [(r.entry_id, r.serial) for r in rows]
                return f"hit {key} returned {got}, want entry {want}"
            return None

        return lambda: get_cert(detail, exp, issuer, serial.hex()).collect(), check

    def _timed_fetch(self, store: str, files: list[int]) -> None:
        base = self.truth["sets"][0]
        if self.run.tr.enabled:
            self.run.op("ingest", self._ingest_only, lambda _: None)
        self.run.op(
            "write",
            lambda: self._fetch(store),
            lambda n: _same(n, base["kept_keys"], "store rows"),
        )
        files.append(len(_files(store, ".parquet")))
        shutil.rmtree(store)

    def measure(self) -> dict:
        from ct_mapreduce_spark.operators.statistics import recompute_leaf_counts

        run, sp = self.run, self.run.spark
        base, drop1, drop2 = self.truth["sets"]
        self.store0 = store0 = os.path.join(self.work, "store0")
        run.op(
            "cold",
            lambda: self._fetch(store0),
            lambda n: _same(n, base["kept_keys"], "store rows"),
        )
        files_fetch = [len(_files(store0, ".parquet"))]
        # the one-time leaf-table bootstrap that the first
        # `fetch --append` on a plain store runs; not timed
        recompute_leaf_counts(sp, store0 + "_leaf_counts", sp.read.parquet(store0))
        run.op(
            "update_warmup",
            lambda: self._append(store0, "drop1"),
            lambda n: _same(n, drop1["fresh_keys"], "appended rows"),
        )
        self.keys = sorted(base["keys"] | drop1["keys"])
        self._reads(warmup=True)
        want = base["kept_keys"] + drop1["fresh_keys"] + drop2["fresh_keys"]
        files_append, bytes_per_cert = [], []
        store = os.path.join(self.work, "store")
        deadline = time.perf_counter() + run.seconds
        while True:
            # reads interleave with the writes, so each metric's samples
            # spread over the whole timed section
            self._timed_fetch(store, files_fetch)
            self._reads()
            for suffix in ("", "_leaf_counts"):
                shutil.copytree(store0 + suffix, store + suffix)
            before = _files(store, ".parquet")
            run.op(
                "update",
                lambda: self._append(store, "drop2"),
                lambda n: _same(n, drop2["fresh_keys"], "appended rows"),
            )
            files_append.append(len(_files(store, ".parquet") - before))
            # store0 plus drop 2: also proves the warm-up append and the
            # leaf-table bootstrap right
            self._check_store(store, want)
            bytes_per_cert.append(_dir_bytes(store) / want)
            store_files = len(_files(store, ".parquet"))
            for suffix in ("", "_leaf_counts"):
                shutil.rmtree(store + suffix)
            self._reads()
            self._timed_fetch(store, files_fetch)
            if time.perf_counter() >= deadline:
                break

        if run.tr.enabled:
            self._per_layer(files_fetch, files_append, store_files)
        return self.e2e(base["rows"], _median(bytes_per_cert))

    def _per_layer(self, files_fetch, files_append, store_files) -> None:
        from ct_mapreduce_spark.plans.ingest import ingest_batch, prepare

        run, pl = self.run, self.run.per_layer
        offered = prepare(self.src["base"], now=gen.NOW).count()
        kept = ingest_batch(self.src["base"], now=gen.NOW).count()
        pl["write.dup_rows_frac"] = (offered - kept) / offered
        to_gate = ingest_batch(self.src["drop2"], now=gen.NOW).count()
        pl["update.fresh_rows_frac"] = self.truth["sets"][2]["fresh_keys"] / to_gate
        pl["write.files_written"] = _median(files_fetch)
        pl["update.files_written"] = _median(files_append)
        pl["store.files"] = store_files
        self.lookup_tail()
        walls = span_walls(run.tr, ("ingest", "write", "update", "scan"))
        # each warm fetch follows its own ingest operation
        ingest = walls.get("plans.ingest.ingest_batch", [])
        ly = run.layers
        ly["plans.ingest.ingest_batch_s"] = _median(ingest)
        ly["sources.sinks.write_store_s"] = _median(
            [w - i for w, i in zip(walls.get("sources.sinks.write_store", []), ingest)]
        )
        for name in (
            "sources.sinks.append_new_to_store",
            "operators.statistics.update_leaf_counts",
            "operators.statistics.stats_rollup",
            "operators.statistics.full_report",
        ):
            ly[name + "_s"] = _median(walls.get(name, []))


# --- llm_curate --------------------------------------------------------------

_MARKER = re.compile(r"\bpg(\d+)x\d+\b")


class LlmCurate(Workload):
    """`curate` with the stack a real drop runs: the first drop into an
    empty workdir, then the next drops (gen.N_CRAWL_DROPS - 1 of them)
    into the same workdir; the first drop is the warm-up of the next
    drops. Then the reads the `dedup` daemon makes of the MinHash index
    the drops built: the exact tier of its probe, on the content hashes
    of a batch of documents (scan) and of one document (lookup). Hits are
    hashes of documents the index holds, misses hashes of text no page
    has.

    The schedule is fixed, so every commit is measured on the same drops
    against the same index, however fast it runs; on a 4-core host it
    takes longer than a run's --seconds."""

    # the next drop is both the warm bulk write and the incremental one
    write_kind = "update"
    # a probe takes ~30 times as long as a `getcert`
    lookups_per_read = 1
    miss_every = 2

    def generate(self, work: str, seed: int) -> None:
        self.truth = gen.crawl_inputs(os.path.join(work, "inputs"), seed)
        self.wd = os.path.join(work, "curate")
        self.idx = os.path.join(self.wd, "mh_index")
        self.seed = seed
        self.rng = random.Random(f"probes-{seed}")
        self.n_lookups = 0

    def setup(self, run: Run) -> None:
        self.run = run

    def _drop(self, d: int) -> dict:
        from ct_mapreduce_spark.plans.curate import curate_crawl

        with self.run.tr.span("plans.curate.curate_crawl"):
            return curate_crawl(
                self.run.spark,
                self.truth["drops"][d]["path"],
                self.wd,
                drop_tag=f"d{d}",
                eval_suite=self.truth["eval_suite"],
                pii_redact=True,
                lm_max_xent=LM_MAX_XENT,
                lm_reference=self.truth["lm_reference"],
                lm_model=os.path.join(self.wd, "lm_model"),
            )

    def _exported(self, d: int) -> list[str]:
        texts = []
        for p in sorted(os.listdir(os.path.join(self.wd, "export", f"drop=d{d}"))):
            if p.endswith(".gz"):
                with gzip.open(os.path.join(self.wd, "export", f"drop=d{d}", p), "rt") as f:
                    texts += [json.loads(line)["text"] for line in f if line.strip()]
        return texts

    def _check(self, d: int, stats: dict) -> str | None:
        truth = self.truth["drops"][d]
        if stats["extracted"] != truth["pages"]:
            return f"extracted {stats['extracted']}, want {truth['pages']}"
        if not os.path.exists(os.path.join(self.wd, "manifest", f"drop=d{d}", "_SUCCESS")):
            return "no manifest"
        texts = self._exported(d)
        if not texts or stats["shards"] < 1:
            return "no export shards"
        markers = [(m.group(0), int(m.group(1)), t) for t in texts for m in [_MARKER.search(t)] if m]
        exact = set(truth["exact"])
        leaked = [m for m, _, t in markers if m in exact and "edit" not in t]
        if leaked:
            return f"planted exact repeats exported: {leaked[:5]}"
        gated = set(truth["contaminated"]) | set(truth["junk"])
        kept_gated = [m for m, _, _ in markers if m in gated]
        if kept_gated:
            return f"contaminated or unseen-token pages exported: {kept_gated[:5]}"
        own = sum(1 for _, src, _ in markers if src == d)
        if own != truth["clean"]:
            return f"exported {own} of the drop's {truth['clean']} clean new pages"
        self.leaked_repeats[d] = sum(1 for _, src, _ in markers if src < d)
        return None

    # read path

    def _probe_hashes(self, indexed: int) -> None:
        """The content hashes of the documents the index holds, read from
        its hash store, and hashes of text no page has. Not timed."""
        import hashlib

        import pyarrow.dataset as ds

        store = ds.dataset(os.path.join(self.idx, "hashes"), format="parquet", partitioning="hive")
        held = store.to_table(columns=["kind", "hash"]).to_pylist()
        self.hits = sorted(r["hash"] for r in held if r["kind"] == "content")
        self.misses = [
            hashlib.md5(f"not a page {self.seed} {i}".encode()).hexdigest()
            for i in range(SCAN_MISSES)
        ]
        # kept documents are distinct: one content hash each
        self.run.check_only(
            len(set(self.hits)) == indexed,
            f"index holds {len(set(self.hits))} content hashes for {indexed} documents",
        )

    def _probe(self, hashes: list[str]) -> set[int]:
        """The exact tier of the `dedup` daemon's probe: positions in
        `hashes` of the content hashes the index holds."""
        from ct_mapreduce_spark.operators.dedup_fuzzy import exact_hash_probe

        sp = self.run.spark
        with self.run.tr.span("operators.dedup_fuzzy.exact_hash_probe"):
            batch = sp.createDataFrame(
                [(i, h, None) for i, h in enumerate(hashes)],
                "doc_id long, content_hash string, sig_hash string",
            )
            return {r.doc_id for r in exact_hash_probe(sp, self.idx, batch).collect()}

    def _scan(self):
        return self._probe(self.rng.sample(self.hits, SCAN_HITS) + self.misses)

    def _check_scan(self, found: set[int]) -> str | None:
        want = set(range(SCAN_HITS))
        return None if found == want else f"batch probe found {sorted(found ^ want)[:5]} wrongly"

    def _lookup(self, i: int):
        miss = i % self.miss_every == 0
        doc = self.rng.choice(self.misses if miss else self.hits)

        def check(found):
            want = set() if miss else {0}
            return None if found == want else f"{'miss' if miss else 'hit'} probe found {found}"

        return lambda: self._probe([doc]), check

    def measure(self) -> dict:
        run = self.run
        self.leaked_repeats: dict[int, int] = {}
        drops = []
        first = run.op("cold", lambda: self._drop(0), lambda s: self._check(0, s))
        for d in range(1, gen.N_CRAWL_DROPS):
            before = _files(self.wd)
            stats = run.op("update", lambda d=d: self._drop(d), lambda s, d=d: self._check(d, s))
            if stats:
                drops.append((stats, len(_files(self.wd) - before)))
        indexed = sum(s["after_dedup"] for s in [first] + [s for s, _ in drops] if s)
        self._probe_hashes(indexed)
        # the first probe of a process runs up to twice as long as later
        # ones; one lookup warms it up
        run.op("lookup_warmup", *self._lookup(0))
        # one timed read: a probe costs ~2.5 s, and the run budget goes to
        # the drops
        self._reads()
        if run.tr.enabled:
            self._per_layer(first, drops)
        pages = self.truth["drops"][1]["pages"]
        return self.e2e(pages, _dir_bytes(self.idx) / max(indexed, 1))

    def _per_layer(self, first, drops) -> None:
        run, pl, ly = self.run, self.run.per_layer, self.run.layers
        if drops:
            signed = [s["after_decontam"] for s, _ in drops]
            kept = [s["after_dedup"] for s, _ in drops]
            pl["write.dup_rows_frac"] = _median([1 - k / s for k, s in zip(kept, signed)])
            pl["update.fresh_rows_frac"] = _median([k / s for k, s in zip(kept, signed)])
            pl["write.files_written"] = pl["update.files_written"] = _median(
                [n for _, n in drops]
            )
        pl["store.files"] = len(_files(self.idx, ".parquet"))
        self.lookup_tail()
        if first:
            ly["plans.curate.first_extract_s"] = first["stage_walls"]["extract"]
        for stage in CURATE_STAGES:
            ly[f"plans.curate.{stage}_s"] = _median(
                [s["stage_walls"][stage] for s, _ in drops if stage in s["stage_walls"]]
            )
        ly["operators.dedup_fuzzy.index_bytes"] = _dir_bytes(self.idx)
        ly["operators.dedup_fuzzy.index_files"] = pl["store.files"]
        done = [d for d in self.leaked_repeats if d > 0]
        planted = sum(
            len(self.truth["drops"][d]["exact"]) + len(self.truth["drops"][d]["near"])
            for d in done
        )
        ly["operators.dedup_fuzzy.dups_caught_frac"] = 1 - sum(
            self.leaked_repeats[d] for d in done
        ) / max(planted, 1)
        walls = span_walls(run.tr, ("scan", "lookup"))
        ly["operators.dedup_fuzzy.exact_hash_probe_s"] = _median(
            walls.get("operators.dedup_fuzzy.exact_hash_probe", [])
        )


WORKLOADS = {"ct_store": CtStore, "llm_curate": LlmCurate}


def span_walls(tr: spans.Tracer, kinds: tuple[str, ...]) -> dict[str, list[float]]:
    """Durations of every named span under operations of `kinds`."""
    ok = {o["op"] for o in tr.ops if o["kind"] in kinds}
    out: dict[str, list[float]] = {}
    for s in tr.spans:
        if s["op"] in ok and s["parent"] is not None:
            out.setdefault(s["name"], []).append(s["end"] - s["start"])
    return out


def ledger_metrics(run: Run, wl: Workload, log_dir: str, out_dir: str) -> None:
    """spark.<class>.<field>: the mean over the class's operations of each
    ledger field (a mean, so a rare cost such as a collection in one of
    many lookups still shows)."""
    rows = spans.ledger(spans.read_event_log(log_dir), run.tr)
    with open(os.path.join(out_dir, "ledger.json"), "w") as f:
        json.dump({"ops": rows, "spans": run.tr.self_times(), "layers": run.layers}, f)
    for r in rows:
        run.check_only(r["reconciled"], f"ledger of op {r['op']} ({r['kind']}) does not reconcile")
    for cls in CLASSES:
        kind = wl.write_kind if cls == "write" else cls
        mine = [r for r in rows if r["kind"] == kind]
        for field in spans.LEDGER_FIELDS + ("wall_s",):
            run.per_layer[f"spark.{cls}.{field}"] = statistics.mean(r[field] for r in mine)
    for cls in ("scan", "lookup"):
        run.per_layer[f"{cls}.files_scanned"] = _median(
            [r["files_read"] for r in rows if r["kind"] == cls]
        )


def unit_of(metric: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"), ("_bytes", "B")):
        if metric.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    work = os.getcwd()
    wl = WORKLOADS[args.workload]()
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(log_dir)
        conf.update(spans.event_log_conf(log_dir))

    # set-up is process start until the first timed operation can
    # begin, less the generator's time, which does not depend on the
    # program
    gen_start = time.time()
    wl.generate(work, args.seed)
    gen_s = time.time() - gen_start
    from ct_mapreduce_spark.session import get_spark

    spark = get_spark("ct_mapreduce_spark-bench", extra_conf=conf)
    run = Run(spark, spans.Tracer(spark, bool(args.trace)), args.seconds)
    wl.setup(run)
    setup_s = time.time() - args.spawned_at - gen_s
    t0 = time.time()
    e2e = wl.measure()
    e2e["setup_s"] = (setup_s, "s")
    print(
        "op walls: " + json.dumps({k: [round(w, 3) for w in v] for k, v in run.walls.items()}),
        file=sys.stderr,
    )
    t1 = time.time()
    spark.stop()
    phases = {"generate": gen_s, "setup": setup_s, "measure": t1 - t0, "stop": time.time() - t1}
    print("phases: " + json.dumps({k: round(v, 2) for k, v in phases.items()}), file=sys.stderr)
    if args.trace:
        ledger_metrics(run, wl, log_dir, work)
        print("layers: " + json.dumps(run.layers), file=sys.stderr)
        metrics = {k: (v, unit_of(k)) for k, v in run.per_layer.items()}
    else:
        metrics = e2e
    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        # a metric whose operations all failed is left out
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None
        },
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
