"""Seeded input generator for the benchmark workloads.

Every input is a pure function of the seed: log lines follow the
md5-of-counter construction of ``tools/gen_log_fixture.py`` with the seed
mixed into the salt, and the document corpus draws from a
``random.Random`` seeded by the seed. Inputs are generated before any
timing and cached per seed under the work directory, so a second run on
the same seed does not pay for them again. The DuckDB oracle answers of
the ``log_queries`` mix are part of the inputs: a child process computes
them, so DuckDB never loads into the measured process.

The generator records what it knows about each input in
``properties.json`` (line counts, unmatched and blank shares,
duplicate shares, increment size relative to the standing corpus). The
workloads check the engine's outputs against these expected values, and
performance claims about an input property can cite them.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import random
import shutil
import string
import subprocess
import sys
from datetime import datetime, timedelta, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
#: Bump when the generated bytes change, so stale caches are rebuilt.
GEN_VERSION = "10"

MONTHS = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)
METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE")
STATUSES = (200, 200, 200, 301, 404, 500)
T0 = datetime(2024, 3, 1, tzinfo=timezone.utc)

#: log_queries: one access log (plus its gzip twin); long enough that
#: parsing, not only job latency, is a steady share of each query.
QUERY_LINES = 30_000
#: log_stream: staged access-log files, consumed a few per trigger.
STREAM_FILES = 6
STREAM_LINES_PER_FILE = 1_500
#: corpus: base documents, Caesar-shifted replicas, increment size.
CORPUS_BASE_DOCS = 400
CORPUS_REPLICAS = 2
INCREMENT_ROLES = {
    "unchanged": 16,      # same id, same text: not part of the delta
    "changed": 10,        # standing id, fresh text
    "exact_of_standing": 10,  # new id, standing text
    "near_of_standing": 16,   # new id, near-variant of standing text
    "exact_pair": 6,      # pairs of new docs with equal text
    "near_pair": 6,       # pairs of new docs, the second a near-variant
    "fresh": 40,          # new unique docs
}
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _h(salt: str, i: int) -> str:
    return hashlib.md5(f"{salt}:{i}".encode()).hexdigest()


# --- log lines --------------------------------------------------------------


def _apache(h: str, t: datetime, long: bool) -> str:
    ip = ".".join(str(int(h[j : j + 2], 16)) for j in (0, 2, 4, 6))
    user = "-" if int(h[8], 16) < 12 else f"u{int(h[8:10], 16)}"
    method = METHODS[int(h[20], 16) % 6]
    path = f"/api/v{1 + int(h[21], 16) % 3}/item/{int(h[22:25], 16)}"
    if long:
        path += "/blob/" + (h * 64)[: 1500 + int(h[5:7], 16) * 8]
    status = STATUSES[int(h[25], 16) % 6]
    nbytes = "-" if int(h[26], 16) == 5 else str(int(h[26:30], 16))
    return (
        f"{ip} - {user} [{t.day:02d}/{MONTHS[t.month - 1]}/{t.year}:"
        f"{t:%H:%M:%S} +0000] \"{method} {path} HTTP/1.1\" {status} {nbytes}"
    )


def log_lines(salt: str, n: int, base_gap_s: float) -> tuple[list, dict]:
    """``n`` raw access-log lines in event-time order.

    Mixed in: blank lines (~2.7%), whitespace-only lines (~1.9%),
    unmatched garbage lines (~3.4%) and long matched lines (~1%). One
    hour in twelve runs at five times the base rate, so per-hour counts
    carry spikes. Returns the lines and their expected scan counts.
    """
    out: list[str] = []
    t = T0
    stats = {"raw_lines": n, "blank": 0, "unmatched": 0, "matched": 0,
             "long": 0}
    for i in range(n):
        h = _h(salt, i)
        hour = int((t - T0).total_seconds()) // 3600
        burst = int(_h(salt + ":hour", hour)[:2], 16) % 12 == 0
        gap = base_gap_s * (0.2 if burst else 1.0)
        t += timedelta(seconds=gap * (0.5 + int(h[30:32], 16) / 255))
        sel = int(h[0:4], 16) % 1000
        if sel < 27:
            out.append("")
            stats["blank"] += 1
        elif sel < 46:
            out.append("   \t ")
            stats["blank"] += 1
        elif sel < 80:
            out.append(f"### continuation fragment {h[:12]} (no header)")
            stats["unmatched"] += 1
        else:
            long = sel >= 990
            out.append(_apache(h, t.replace(microsecond=0), long))
            stats["matched"] += 1
            stats["long"] += int(long)
    stats["lines_in"] = stats["matched"] + stats["unmatched"]
    return out, stats


def _write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# --- corpus -----------------------------------------------------------------


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


def _variant(text: str, rng: random.Random) -> str:
    """Near-duplicate: one word in every forty replaced (word 3-shingle
    Jaccard stays above 0.8 for the >= 40-word bases used)."""
    words = text.split()
    for k in range(max(1, len(words) // 40)):
        j = 20 + 40 * k
        words[j] = "dup" if words[j] != "dup" else "variant"
    return " ".join(words)


def _caesar(text: str, r: int) -> str:
    lo, up = string.ascii_lowercase, string.ascii_uppercase
    return text.translate(
        str.maketrans(lo + up, lo[r:] + lo[:r] + up[r:] + up[:r])
    )


def corpus(seed: int) -> tuple[list[dict], list[dict], dict]:
    """Standing corpus and one increment, with the expected survivors.

    The standing corpus is ``CORPUS_BASE_DOCS`` seeded documents plus
    Caesar-shifted replicas (the ``tools/scale_smoke.py`` recipe:
    replica r shifts every letter by r and offsets ids by r * 1e6, so
    replicas share no tokens). One base document in twenty-five is
    replaced by a near-variant of an earlier one, so the standing
    cluster map is not trivial. The increment mixes the roles of
    ``INCREMENT_ROLES``; the seed picks which standing documents play
    them.
    """
    rng = random.Random(f"perfbench-corpus:{seed}")
    base = [_doc_text(rng) for _ in range(CORPUS_BASE_DOCS)]
    long_ids = [i for i, t in enumerate(base) if len(t.split()) >= 40]
    clustered: set[int] = set()
    planted: dict[int, int] = {}
    for i in range(CORPUS_BASE_DOCS):
        if i % 25 == 24:
            src = rng.choice([j for j in long_ids if j < i])
            base[i] = _variant(base[src], rng)
            clustered |= {i, src}
            planted[i] = src
    # the standing cluster map: connected components of the planted
    # near-duplicate pairs, cluster id = min member id (dup_clusters'
    # policy), one row per clustered document
    parent = {i: i for i in clustered}

    def find(x: int) -> int:
        while parent[x] != x:
            x = parent[x]
        return x

    for i in range(CORPUS_BASE_DOCS):
        if i % 25 == 24:
            a, b = find(i), find(planted[i])
            parent[max(a, b)] = min(a, b)
    clusters = [(r * 1_000_000 + i, r * 1_000_000 + find(i))
                for r in range(CORPUS_REPLICAS) for i in sorted(clustered)]
    standing = []
    for r in range(CORPUS_REPLICAS):
        for i, text in enumerate(base):
            standing.append({
                "doc_id": r * 1_000_000 + i,
                "text": _caesar(text, r),
                "source": f"src{i % 10}",
            })
    by_id = {d["doc_id"]: d for d in standing}
    long_standing = [d["doc_id"] for d in standing
                     if len(d["text"].split()) >= 40]
    picks = rng.sample(sorted(by_id), INCREMENT_ROLES["unchanged"]
                       + INCREMENT_ROLES["changed"]
                       + INCREMENT_ROLES["exact_of_standing"])
    near_src = rng.sample(long_standing, INCREMENT_ROLES["near_of_standing"])
    inc: list[dict] = []
    next_id = [9_000_000]

    def new_id() -> int:
        next_id[0] += 1 + rng.randint(0, 3)
        return next_id[0]

    def fresh(min_words: int = 10) -> str:
        while True:
            t = _doc_text(rng)
            if len(t.split()) >= min_words:
                return t

    k = 0
    for _ in range(INCREMENT_ROLES["unchanged"]):
        inc.append(dict(by_id[picks[k]])); k += 1
    for _ in range(INCREMENT_ROLES["changed"]):
        d = dict(by_id[picks[k]]); k += 1
        d["text"] = fresh()
        inc.append(d)
    for _ in range(INCREMENT_ROLES["exact_of_standing"]):
        d = by_id[picks[k]]; k += 1
        inc.append({"doc_id": new_id(), "text": d["text"],
                    "source": d["source"]})
    for sid in near_src:
        d = by_id[sid]
        inc.append({"doc_id": new_id(), "text": _variant(d["text"], rng),
                    "source": d["source"]})
    for _ in range(INCREMENT_ROLES["exact_pair"] // 2):
        text, src = fresh(), f"src{rng.randint(0, 9)}"
        inc += [{"doc_id": new_id(), "text": text, "source": src}
                for _ in range(2)]
    for _ in range(INCREMENT_ROLES["near_pair"] // 2):
        text, src = fresh(40), f"src{rng.randint(0, 9)}"
        inc += [{"doc_id": new_id(), "text": text, "source": src},
                {"doc_id": new_id(), "text": _variant(text, rng),
                 "source": src}]
    for _ in range(INCREMENT_ROLES["fresh"]):
        inc.append({"doc_id": new_id(), "text": fresh(),
                    "source": f"src{rng.randint(0, 9)}"})
    rng.shuffle(inc)
    survivors, counts = expected_survivors(standing, inc, clusters)
    stale, _ = expected_survivors(standing, inc, clusters,
                                  stale_membership=True)
    n_inc = len(inc)
    props = {
        "standing_docs": len(standing),
        "standing_clustered_share": round(len(clusters) / len(standing), 4),
        "increment_docs": n_inc,
        "increment_to_standing": round(n_inc / len(standing), 4),
        "increment_roles": dict(INCREMENT_ROLES),
        "increment_exact_dup_share": round(
            (INCREMENT_ROLES["exact_of_standing"]
             + INCREMENT_ROLES["exact_pair"] / 2) / n_inc, 4),
        "increment_near_dup_share": round(
            (INCREMENT_ROLES["near_of_standing"]
             + INCREMENT_ROLES["near_pair"] / 2) / n_inc, 4),
        **counts,
        # changed documents the engine drops for their stale standing
        # cluster membership (see expected_survivors)
        "stale_cluster_drops": len(survivors) - len(stale),
    }
    return standing, inc, {"props": props,
                           "survivors": {"intended": survivors,
                                         "stale": stale},
                           "clusters": clusters}


def _shingles(text: str, n: int = 3) -> frozenset:
    w = text.split()
    return frozenset(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))


def expected_survivors(standing, inc, clusters, threshold: float = 0.6,
                       stale_membership: bool = False):
    """Reference model of ``ingest_increment(existing_fp=..., near_dup=True,
    standing_clusters=..., standing_docs=...)``, written from the
    pipeline's documented policies, over exact Jaccard instead of LSH
    (which misses a J >= 0.6 pair with probability ~4e-13):

    1. delta: ids new to the corpus, or whose text changed;
    2. content already anywhere in the standing corpus is dropped, and
       the min id survives among equal texts of the delta;
    3. near-duplicate pairs touching the survivors, where a changed
       document compares on its new text;
    4. components over the standing cluster map plus those pairs: a
       cluster with a standing member keeps no new member, otherwise its
       min new id survives.

    A changed document is a new node, judged on its new text: the
    standing map's row for its id describes the old text. With
    ``stale_membership`` the model instead keeps that row on the changed
    document, so it loses to its old cluster whatever its new text;
    that is what the engine does (``ingest_increment`` joins the map to
    the delta by id).

    Returns the surviving ids and counts the benchmark reports.
    """
    md5 = {d["doc_id"]: hashlib.md5(d["text"].encode()).hexdigest()
           for d in standing}
    old_fps = set(md5.values())
    delta = [d for d in inc if md5.get(d["doc_id"]) !=
             hashlib.md5(d["text"].encode()).hexdigest()]
    winners: dict[str, int] = {}
    for d in delta:
        fp = hashlib.md5(d["text"].encode()).hexdigest()
        if fp not in old_fps:
            winners[fp] = min(winners.get(fp, d["doc_id"]), d["doc_id"])
    kept = {d["doc_id"]: d["text"] for d in delta
            if d["doc_id"] in winners.values()}
    universe = {d["doc_id"]: d["text"] for d in standing
                if d["doc_id"] not in kept}
    universe.update(kept)
    sh = {i: _shingles(t) for i, t in universe.items()}
    pairs = []
    for a in kept:
        for b, sb in sh.items():
            if b == a or (b in kept and b < a) or not sh[a] or not sb:
                continue
            inter = len(sh[a] & sb)
            if inter and inter / (len(sh[a]) + len(sb) - inter) >= threshold:
                pairs.append((a, b))
    # graph nodes: ("n", id) a document of the delta, ("s", id) standing
    parent: dict[tuple, tuple] = {}

    def find(x: tuple) -> tuple:
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    def union(x: tuple, y: tuple) -> None:
        a, b = find(x), find(y)
        parent[max(a, b)] = min(a, b)

    def in_map(i: int) -> tuple:
        return ("n", i) if stale_membership and i in kept else ("s", i)

    for node, cid in clusters:
        union(in_map(node), in_map(cid))
    for x, y in pairs:
        union(("n", x), ("n", y) if y in kept else ("s", y))
    members: dict[tuple, list[tuple]] = {}
    for node in list(parent):
        members.setdefault(find(node), []).append(node)
    losers = set()
    for ms in members.values():
        new = [i for side, i in ms if side == "n"]
        if not new:
            continue
        if len(new) < len(ms):
            losers.update(new)
        else:
            losers.update(m for m in new if m != min(new))
    survivors = sorted(set(kept) - losers)
    return survivors, {
        "delta_docs": len(delta),
        "exact_unique_docs": len(kept),
        "near_dup_pairs": len(pairs),
        "expected_survivors": len(survivors),
    }


def _write_docs(path: str, docs: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "source": pa.array([d["source"] for d in docs], pa.string()),
    })
    pq.write_table(table, path)


# --- top level --------------------------------------------------------------


def _query_inputs(root: str, seed: int) -> dict:
    lines, st = log_lines(f"perfbench-queries:{seed}", QUERY_LINES, 30.0)
    d = os.path.join(root, "queries")
    os.makedirs(os.path.join(d, "raw"))
    os.makedirs(os.path.join(d, "gz"))
    st["bytes"] = _write_lines(os.path.join(d, "raw", "access.log"), lines)
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
        gz.write(("\n".join(lines) + "\n").encode())
    with open(os.path.join(d, "gz", "access.log.gz"), "wb") as f:
        f.write(buf.getvalue())
    # the engine's DuckDB replay helpers are imported from the checkout
    # the benchmark runs in (its working directory)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"),
         os.path.join(d, "raw", "access.log"),
         os.path.join(root, "oracle.json")],
        env={**os.environ, "PYTHONPATH": os.getcwd()},
        check=True,
    )
    return st


def _stream_inputs(root: str, seed: int) -> dict:
    n = STREAM_FILES * STREAM_LINES_PER_FILE
    lines, st = log_lines(f"perfbench-stream:{seed}", n, 20.0)
    d = os.path.join(root, "stream")
    os.makedirs(d)
    mtime = 1_700_000_000
    st["bytes"] = 0
    for i in range(STREAM_FILES):
        p = os.path.join(d, f"batch-{i:03d}.log")
        st["bytes"] += _write_lines(p, lines[i * STREAM_LINES_PER_FILE :
                                             (i + 1) * STREAM_LINES_PER_FILE])
        # the file source orders by modification time: keep event order
        os.utime(p, (mtime + i * 10, mtime + i * 10))
    st["files"] = STREAM_FILES
    return st


def _corpus_inputs(root: str, seed: int) -> dict:
    standing, inc, meta = corpus(seed)
    d = os.path.join(root, "corpus")
    os.makedirs(d)
    import pyarrow as pa
    import pyarrow.parquet as pq

    _write_docs(os.path.join(d, "standing.parquet"), standing)
    # the persisted standing state a production corpus keeps next to its
    # documents: fingerprints (corpus_fingerprints: md5 of the text) and
    # the near-duplicate cluster map
    pq.write_table(pa.table({
        "doc_id": pa.array([x["doc_id"] for x in standing], pa.int64()),
        "fp": pa.array([hashlib.md5(x["text"].encode()).hexdigest()
                        for x in standing], pa.string()),
    }), os.path.join(d, "standing_fp.parquet"))
    nodes, cids = zip(*meta["clusters"])
    pq.write_table(pa.table({
        "node": pa.array(nodes, pa.int64()),
        "cluster_id": pa.array(cids, pa.int64()),
    }), os.path.join(d, "standing_clusters.parquet"))
    _write_docs(os.path.join(d, "increment.parquet"), inc)
    with open(os.path.join(d, "survivors.json"), "w") as f:
        json.dump(meta["survivors"], f)
    return meta["props"]


#: the inputs each workload reads
MAKERS = {
    "log_queries": ("queries", _query_inputs),
    "log_stream": ("stream", _stream_inputs),
    "corpus_ingest": ("corpus", _corpus_inputs),
}


def ensure_inputs(work: str, seed: int, workload: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs ``workload`` reads for ``seed``;
    returns (dir, properties)."""
    key, make = MAKERS[workload]
    root = os.path.join(work, "inputs", f"seed-{seed}-{key}")
    marker = os.path.join(root, "properties.json")
    if os.path.exists(marker):
        with open(marker) as f:
            props = json.load(f)
        if props.get("gen_version") == GEN_VERSION:
            return root, props
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = {
        "gen_version": GEN_VERSION,
        "seed": seed,
        key: make(tmp, seed),
    }
    with open(os.path.join(tmp, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    os.rename(tmp, root)
    return root, props
