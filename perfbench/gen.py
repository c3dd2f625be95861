"""Seeded input generators for the benchmark workloads.

``log_tree`` writes a Hadoop-MapReduce-like ``container_*.log`` tree in
the shape of ``tests/conftest.py::gen_log_lines``: timestamped
``LEVEL [thread] logger: message`` lines, stack-trace continuation lines
with no timestamp prefix, and a decoy file the ingest glob must skip.
``documents`` writes a ``documents.parquet`` shaped like the test-data
corpus that the curation entries read.

Both are pure functions of their parameters and seed: the same call
writes byte-identical files. ``cached`` keys an output directory on the
parameters and the seed, so repeated runs reuse it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

LOGGERS = [
    "org.apache.hadoop.mapreduce.v2.app.MRAppMaster",
    "org.apache.hadoop.yarn.event.AsyncDispatcher",
    "org.apache.hadoop.mapred.TaskAttemptListenerImpl",
    "org.apache.hadoop.hdfs.DFSClient",
    "org.apache.hadoop.mapreduce.v2.app.rm.RMContainerAllocator",
]
THREADS = ["main", "IPC Server handler {n} on {port}", "AsyncDispatcher event handler",
           "ResponseProcessor", "DataStreamer"]
WORDS = [
    "allocated", "assigned", "attempt", "block", "buffer", "checkpoint",
    "commit", "container", "dispatcher", "event", "fetcher", "finished",
    "heartbeat", "job", "launched", "local", "map", "merge", "node",
    "output", "progress", "queue", "reduce", "remote", "request", "resource",
    "scheduler", "shuffle", "spill", "split", "started", "state", "status",
    "stopped", "task", "token", "transition", "umbilical", "update", "write",
]
#: value slots the mask rules turn into ``<*>``
MASKED_SLOTS = {
    "num": lambda r: str(r.randint(0, 99999)),
    "ip": lambda r: f"10.{r.randint(0, 255)}.{r.randint(0, 255)}.{r.randint(0, 255)}:{r.randint(1024, 65000)}",
    "attempt": lambda r: f"attempt_1445062781478_{r.randint(1, 20):04d}_m_{r.randint(0, 999):06d}_{r.randint(0, 3)}",
    "container": lambda r: f"container_1445062781478_{r.randint(1, 20):04d}_01_{r.randint(1, 999):06d}",
    "float": lambda r: f"{r.random():.4f}",
    "path": lambda r: f"/user/hadoop/.staging/job_{r.randint(1, 99)}/file{r.randint(0, 9)}.jar",
}
LEVELS = ["INFO"] * 8 + ["WARN", "ERROR"]
DECOY_MARKER = "DECOYFILE"


def escape_token(i: int) -> str:
    """A token no mask rule rewrites: letters glued to digits without a
    word boundary or underscore, so each value stays in the masked
    message and multiplies the distinct messages of its template."""
    return f"q{i}x"


def _templates(rng: random.Random, n: int) -> list[tuple[str, str, str, str, bool]]:
    """``n`` distinct (level, thread, logger, message pattern, has_escape)
    templates. Every template starts with its own two-word head so Drain's
    prefix tree keeps them apart. Level, thread, slot count and escape
    token follow the template's rank, not the seed, so every seed gives
    the same shape of work (share of ERROR lines and their continuation
    lines, distinct masked messages); the seed picks the words."""
    out, heads = [], set()
    while len(out) < n:
        k = len(out)
        head = (rng.choice(WORDS), rng.choice(WORDS), k % 7)
        if head in heads:
            continue
        heads.add(head)
        body = [head[0], head[1]] + [rng.choice(WORDS) for _ in range(head[2])]
        for slot in rng.sample(sorted(MASKED_SLOTS), 1 + k % 3):
            body.insert(rng.randint(2, len(body)), "{" + slot + "}")
        has_escape = k % 2 == 0
        if has_escape:
            body.insert(rng.randint(2, len(body)), "{esc}")
        out.append((LEVELS[k % len(LEVELS)], THREADS[k % len(THREADS)], rng.choice(LOGGERS),
                    " ".join(body), has_escape))
    return out


def _zipf_sizes(total: int, files: int, skew: float) -> list[int]:
    weights = [1.0 / (k + 1) ** skew for k in range(files)]
    scale = total / sum(weights)
    sizes = [max(1, int(w * scale)) for w in weights]
    sizes[0] += total - sum(sizes)
    return sizes


def _line(rng: random.Random, tpl, escape_card: int, t: int) -> str:
    level, thread_t, logger, msg_t, _ = tpl
    vals = {k: f(rng) for k, f in MASKED_SLOTS.items()}
    vals["n"], vals["port"] = rng.randint(0, 99), rng.randint(10000, 65000)
    vals["esc"] = escape_token(rng.randrange(escape_card))
    ts = f"2015-10-18 {(t // 3600) % 24:02d}:{(t // 60) % 60:02d}:{t % 60:02d},{rng.randint(0, 999):03d}"
    return f"{ts} {level} [{thread_t.format(**vals)}] {logger}: {msg_t.format(**vals)}"


def container_lines(rng: random.Random, templates, escape_card: int, n: int, t0: int = 0):
    """``n`` lines: template draws are Zipf-skewed (a few hot templates,
    a long tail), and an ERROR line is followed by up to two stack-trace
    continuation lines while the budget lasts."""
    weights = [1.0 / (k + 1) for k in range(len(templates))]
    out: list[str] = []
    t = t0
    while len(out) < n:
        tpl = rng.choices(templates, weights)[0]
        out.append(_line(rng, tpl, escape_card, t))
        t += 1
        if tpl[0] == "ERROR":
            for cont in ("java.io.IOException: Bad response ERROR for block",
                         "\tat org.apache.hadoop.hdfs.DFSOutputStream.run(DFSOutputStream.java:702)"):
                if len(out) < n and rng.random() < 0.8:
                    out.append(cont)
    return out


def log_tree(root: str, *, lines: int, files: int, skew: float, templates: int,
             escape_card: int, seed: int) -> dict:
    """Write the tree under ``root`` and return its manifest (also saved
    as ``root/manifest.json``). ``lines`` counts only lines in
    ``container_*.log`` files; the decoy adds more that must not count."""
    rng = random.Random(seed)
    tpls = _templates(rng, templates)
    sizes = _zipf_sizes(lines, files, skew)
    per_file = {}
    t = 0
    for k, n in enumerate(sizes):
        app = f"application_1445062781478_{k % 4 + 1:04d}"
        name = f"container_1445062781478_{k % 4 + 1:04d}_01_{k + 1:06d}.log"
        os.makedirs(os.path.join(root, app), exist_ok=True)
        body = container_lines(rng, tpls, escape_card, n, t)
        t += n
        with open(os.path.join(root, app, name), "w", newline="\n") as f:
            f.write("\n".join(body) + "\n")
        per_file[f"{app}/{name}"] = n
    decoy = [f"2015-10-18 00:00:00,000 INFO [main] {LOGGERS[0]}: {DECOY_MARKER} line {i}"
             for i in range(max(10, lines // 100))]
    with open(os.path.join(root, "application_1445062781478_0001", "syslog"), "w") as f:
        f.write("\n".join(decoy) + "\n")
    manifest = {"lines": sum(per_file.values()), "files": per_file,
                "templates": templates, "escape_templates": sum(t[4] for t in tpls),
                "decoy_lines": len(decoy), "seed": seed}
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def novel_file(path: str, *, lines: int, tag: str, seed: int) -> str:
    """One catch-up file: ``lines`` lines of a template no base tree
    contains (its head words are alphabetic, so masking keeps them).
    Returns that template's masked text."""
    rng = random.Random(seed)
    msg = f"Novel catchup event {tag} reached stage"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for i in range(lines):
            f.write(f"2015-10-19 00:{(i // 60) % 60:02d}:{i % 60:02d},{rng.randint(0, 999):03d} "
                    f"INFO [main] {LOGGERS[0]}: {msg} {rng.randint(0, 99999)}\n")
    return f"{msg} <*>"


DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]


def documents(root: str, *, docs: int, dup_frac: float, seed: int) -> dict:
    """Write ``root/documents.parquet``: ``docs`` rows of random 10-100
    word texts, with ``dup_frac`` of them near-duplicates of an earlier
    row (one extra ``dup`` token), in a seeded row order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(docs):
        if texts and rng.random() < dup_frac:
            toks = rng.choice(texts).split()
            toks.insert(rng.randrange(len(toks) + 1), "dup")
        else:
            toks = [rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 100))]
        texts.append(" ".join(toks))
    order = list(range(docs))
    rng.shuffle(order)
    rows = {
        "doc_id": list(range(docs)),
        "text": [texts[j] for j in order],
        "lang": [rng.choices(LANGS, [41, 15, 15, 15, 14])[0] for _ in range(docs)],
        "source": [f"src{i % 20}" for i in range(docs)],
    }
    rows["n_chars"] = [len(t) for t in rows["text"]]
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.table(rows), os.path.join(root, "documents.parquet"))
    return {"docs": docs, "seed": seed}


#: generated inputs kept per kind, newest first
KEEP = 12


def cached(base: str, kind: str, fn, **params) -> tuple[str, dict]:
    """Run ``fn(dir, **params)`` once per distinct ``params`` (and
    version of this file) under ``base`` and return ``(dir, manifest)``;
    later calls reuse the directory. Keeps the ``KEEP`` newest
    directories of this kind."""
    # the key covers this file too, so a changed generator never reuses
    # an older version's output
    with open(__file__, "rb") as f:
        src = hashlib.sha256(f.read()).hexdigest()
    key = hashlib.sha256(json.dumps([kind, params, src], sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(base, f"{kind}-{key}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = fn(tmp, **params)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.rename(tmp, out)
    old = sorted((d for d in os.listdir(base) if d.startswith(kind + "-") and not d.endswith(".partial")),
                 key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for d in old[:-KEEP]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return out, manifest
