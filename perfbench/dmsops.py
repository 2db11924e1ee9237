"""The ``dms_ops`` workload: a seeded read/write mix of DocumentStore calls.

Set-up bulk-ingests the ``documents`` table as ``doc-<doc_id>`` (one version
each), compacts it clustered by name and runs one untimed cycle (below):
with only one call of each operation in set-up, reads in the first
measured cycle were still about 20% slower than in the second. The
measured part then runs whole cycles, at least two, until the measured
time reaches the run length. A cycle is 15 reads and 6 writes, about 70%
reads, in three segments. Each segment calls every read operation once
(download, latest version, version list, metadata, search), in seeded
order, then commits two writes: an upload and a delete in the first two
segments, an upload and an update in the last. A compaction follows every
cycle, that is every 6 commits. The five reads get equal shares for want
of a usage profile to weight them by.

Reads slow down with every commit since the last rewrite of the snapshot
(each upload adds data files, each delete a tombstone file the reads
anti-join), so the order of reads and writes is fixed: every read type is
measured once per segment, that is at 0, 2 and 4 commits since the
compaction, in every run. The seed draws what varies between runs: the
order of the reads in a segment, the names, the contents and the search
terms. Names are drawn with a Zipf skew over a seeded ranking, so the hot
documents pile up versions and tombstones between compactions. One client
waits for each call before the next (closed loop).

Read and write latency are reported per call type, then averaged with the
call types' shares of the cycle: a pooled percentile over call types whose
latencies differ several-fold would measure the mix, not the store. A run
of two cycles holds 2 to 6 calls of a type, too few for any percentile above
the median to have ten samples beyond it, so the median is the statistic.

Every result is checked, outside the timed call, against ``Shadow``: an
in-memory model of what the store must hold.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
import re
from collections import Counter
from statistics import median

from perfbench.tracing import Tracer, typical_median

READS = ("download", "latest", "versions", "meta", "search")
WRITES = ("upload", "update", "delete", "compact")
SEGMENT_WRITES = (("upload", "delete"), ("upload", "delete"), ("upload", "update"))
CYCLE = tuple(op for writes in SEGMENT_WRITES for op in READS + writes)

# The store tokenizes with Spark's split on Java's \s, which is ASCII-only.
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


class Shadow:
    """The store's expected contents: live versions per name, plus the
    deleted versions that new version numbers must skip."""

    def __init__(self, docs: dict[str, bytes]):
        self.live = {name: {1: content} for name, content in docs.items()}
        self.top = {name: 1 for name in docs}  # newest version ever numbered
        self.tomb_max: dict[str, int] = {}  # newest deleted since a rewrite
        self.generation = 1  # bulk ingest commits 0, its compaction 1
        self._tokens: dict[bytes, Counter] = {}

    def latest(self, name: str) -> int | None:
        versions = self.live.get(name)
        return max(versions) if versions else None

    def versions(self, name: str) -> list[int]:
        return sorted(self.live.get(name, ()))

    def content(self, name: str) -> bytes | None:
        v = self.latest(name)
        return None if v is None else self.live[name][v]

    def upload(self, name: str, content: bytes, returned) -> int:
        """The version the upload must return, given the one it returned.

        The store documents that a deleted version number is never handed
        out again, so the next version is one past every version ever
        numbered. A store that forgets its deletions when a compaction or
        an update rewrites the snapshot numbers one past the newest version
        deleted since then instead. Either is accepted; the model records
        the one returned."""
        live = self.latest(name) or 0
        allowed = (max(live, self.top.get(name, 0)) + 1,
                   max(live, self.tomb_max.get(name, 0)) + 1)
        v = returned if returned in allowed else allowed[0]
        self.live.setdefault(name, {})[v] = content
        self.top[name] = max(self.top.get(name, 0), v)
        self.generation += 1
        return v

    def delete(self, name: str) -> None:
        v = self.latest(name)
        del self.live[name][v]
        self.tomb_max[name] = max(self.tomb_max.get(name, 0), v)
        self.generation += 1

    def update(self, name: str, content: bytes) -> None:
        self.live[name][self.latest(name)] = content
        self.rewrite()

    def rewrite(self) -> None:
        self.tomb_max.clear()
        self.generation += 1

    def search(self, terms: list[str], k: int = 10) -> list[tuple]:
        hits = []
        for name, versions in self.live.items():
            for v, content in versions.items():
                score = sum(self._count(content)[t] for t in set(terms))
                if score > 0:
                    hits.append((-score, name, v))
        return [(name, v, -neg) for neg, name, v in sorted(hits)[:k]]

    def apply(self, op: str, name: str, arg, got):
        """The result ``op`` must return, given ``got``, the one it
        returned; a write also updates the model. ``arg`` is the content of
        an upload or update, the terms of a search."""
        if op == "download":
            return self.content(name)
        if op == "latest":
            return self.latest(name)
        if op == "versions":
            return self.versions(name)
        if op == "meta":
            content = self.content(name)
            return None if content is None else (
                hashlib.sha256(content).hexdigest(), str(len(content)), "text/plain")
        if op == "search":
            return self.search(arg)
        if op == "upload":
            return self.upload(name, arg, got)
        if op == "update":
            self.update(name, arg)
            return True
        if op == "delete":
            self.delete(name)
            return True
        self.rewrite()  # compact
        return self.generation

    def user_bytes(self) -> int:
        return sum(len(c) for vs in self.live.values() for c in vs.values())

    def _count(self, content: bytes) -> Counter:
        if content not in self._tokens:
            text = content.decode("utf-8").lower()
            self._tokens[content] = Counter(_JAVA_SPACE.split(text))
        return self._tokens[content]


class Picker:
    """Zipf-skewed name draws over a seeded ranking of the names."""

    def __init__(self, rng: random.Random, names: list[str]):
        self.rng = rng
        self.ranked = rng.sample(names, len(names))
        self.cum = list(itertools.accumulate(1 / (i + 1) for i in range(len(names))))

    def any(self) -> str:
        return self.rng.choices(self.ranked, cum_weights=self.cum)[0]

    def live(self, shadow: Shadow) -> str:
        for _ in range(64):
            name = self.any()
            if shadow.latest(name) is not None:
                return name
        return next(n for n in self.ranked if shadow.latest(n) is not None)


def _meta_key(meta: dict | None) -> tuple | None:
    """The metadata fields the shadow model predicts."""
    if meta is None:
        return None
    return meta.get("sha256"), meta.get("length"), meta.get("content_type")


def _disk_usage(base: str) -> tuple[int, int]:
    """(data files, bytes) under ``base``, each hardlinked inode once."""
    seen: dict[int, int] = {}
    data: set[int] = set()
    for root, _dirs, files in os.walk(base):
        for fn in files:
            st = os.stat(os.path.join(root, fn))
            seen[st.st_ino] = st.st_size
            if fn.endswith(".parquet") and os.path.basename(root).startswith("gen="):
                data.add(st.st_ino)
    return len(data), sum(seen.values())


def run(spark, tracer: Tracer, sf_dir: str, seed: int, seconds: float,
        store_dir: str) -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dmshadoop_spark.catalog import load_table
    from dmshadoop_spark.dms.store import DocumentStore

    rng = random.Random(seed)
    table = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = {
        f"doc-{i}": t.encode("utf-8")
        for i, t in zip(table["doc_id"].to_pylist(), table["text"].to_pylist())
    }
    shadow = Shadow(docs)
    vocab = sorted({w for c in docs.values() for w in _JAVA_SPACE.split(c.decode())} - {""})
    pick = Picker(rng, sorted(docs))
    store = DocumentStore(spark, store_dir)
    files = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("name"),
        F.col("text").cast("binary").alias("content"),
    )
    with tracer.span("dms.bulk_ingest") as ingest:
        store.bulk_ingest(files)
    with tracer.span("dms.seed_compact"):
        store.compact(cluster_by=["name"])

    calls = {
        "download": lambda name, _: store.download(name),
        "latest": lambda name, _: store.get_lastest_version(name),
        "versions": lambda name, _: store.get_file_version(name),
        "meta": lambda name, _: _meta_key(store.get_file_meta_data(name)),
        "search": lambda _, terms: [
            tuple(r) for r in store.search(" ".join(terms)).collect()],
        "upload": store.upload,
        "update": store.update,
        "delete": lambda name, _: store.delete(name),
        "compact": lambda *_: store.compact(cluster_by=["name"]),
    }
    problems: list[str] = []
    attempted = failed = 0

    def checked(op: str) -> dict | None:
        """Make one call and check it; return its span, None if it raised."""
        nonlocal attempted, failed
        name = pick.live(shadow) if op in ("update", "delete") else pick.any()
        arg = None
        if op in ("upload", "update"):
            arg = " ".join(rng.choices(vocab, k=rng.randint(20, 60))).encode()
        elif op == "search":
            arg = rng.sample(vocab, rng.randint(1, 2))
        attempted += 1
        try:
            with tracer.span(f"dms.{op}") as sp:
                got = calls[op](name, arg)
        except Exception as exc:  # a failed call is a result, the run goes on
            failed += 1
            problems.append(f"{op} raised {type(exc).__name__}: {exc}"[:300])
            return None
        if got != shadow.apply(op, name, arg, got):
            failed += 1
            problems.append(f"{op}({name}) result differs from the shadow model")
        return sp

    def next_cycle() -> list[str]:
        return [op for writes in SEGMENT_WRITES
                for op in rng.sample(READS, len(READS)) + list(writes)] + ["compact"]

    with tracer.span("warmup") as warm:
        for op in next_cycle():
            checked(op)

    spans: dict[str, list[dict]] = {op: [] for op in READS + WRITES}
    cycles: list[float] = []
    first_call = None
    with tracer.span("dms_ops"):
        while len(cycles) < 2 or sum(cycles) < seconds:
            cycle = 0.0
            for op in next_cycle():
                sp = checked(op)
                if sp is not None:
                    spans[op].append(sp)
                    cycle += sp["dur"]
                    if first_call is None:
                        first_call = sp["start"]
            cycles.append(cycle)

    share = Counter(CYCLE + ("compact",))
    e2e = {
        "ops_per_s": sum(len(done) for done in spans.values()) / sum(cycles),
        "pass_p50_s": median(cycles),
        "read_p50_s": typical_median(spans, {op: share[op] for op in READS}),
        "write_p50_s": typical_median(spans, {op: share[op] for op in WRITES}),
    }
    data_files, disk_bytes = _disk_usage(store_dir)
    layers = {
        "warmup_s": warm["dur"],
        "dms.bulk_ingest_s": ingest["dur"],
        "dms.data_files_end": data_files,
        "dms.generations_end": len(store.history()),
        "dms.bytes_per_user_byte": disk_bytes / shadow.user_bytes(),
    }
    for op, done in spans.items():
        if done:
            layers[f"dms.{op}.p50_s"] = median([s["dur"] for s in done])
            if tracer.traced:
                layers[f"dms.{op}.jobs"] = median([s["jobs"] for s in done])
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "first_call": first_call,
        "end_to_end": e2e,
        "per_layer": layers,
    }
