"""T1(c) — faithful Drain-family online template mining, distributed.

The reference mines templates with the Drain3 library
(``template_miner.add_log_message``, process_logs_v10.py:59-81; knobs
depth=4, sim_th=0.4, max_clusters=10000 at process_logs_v10.py:8-17,
drain3.ini:1-8). This module reimplements the published Drain algorithm
(He et al., "Drain: An Online Log Parsing Approach with Fixed Depth
Tree", ICWS 2017) from the paper's description — a fixed-depth prefix
tree keyed by token count and leading tokens, leaf clusters matched by
token-wise similarity ≥ ``sim_th``, matched templates generalized by
replacing disagreeing tokens with ``<*>``.

Round-5 fidelity pass (closed the 20/50 golden-parity gap): three
behaviors of the drain3 library (the exact engine the reference runs)
were measured against the reference's committed ``event_matrix.csv``
golden and adopted:

1. **Whitespace tokenization** — drain3 strips the line and splits on
   ANY whitespace run (``content.split()``), so leading tabs vanish
   and double spaces collapse; templates re-render with single spaces.
2. **Fit similarity excludes accumulated wildcards** (drain3
   ``get_seq_distance(..., include_params=False)`` inside
   ``add_log_message``): template-side ``<*>`` positions count toward
   neither the numerator nor a free match — an eroded template gets
   *harder* to join, which is exactly why coarse catch-alls and fine
   literal clusters coexist in the reference's own output.
3. **Best-match tie-break by parameter count** (drain3
   ``fast_match``): among same-similarity candidates the one with
   more wildcards wins.

Inference (``match``) keeps the wildcard-permissive rule: a mined
``<*>`` matches any concrete token, which is what re-matching a corpus
against a finished catalog requires (and what drain3's
``template_miner.match`` does via its required-similarity path).
Measured replication on the reference corpus after this pass:
see tests/test_golden_reference.py.

Distribution strategy (SURVEY §2.4 option (b)): Drain is inherently
order-sensitive, so a faithful port cannot be both parallel and
bit-identical to a serial run. The engine therefore:

1. fits one miner per partition with ``mapInPandas`` (Arrow batches,
   no driver involvement) and emits per-partition (template, count)
   summaries — thousands of rows, not billions;
2. merges partition summaries on the driver by replaying them into a
   fresh miner in sorted template order (deterministic given the set
   of partition templates);
3. broadcasts the merged catalog and rematches every line with a
   ``mapInPandas`` lookup — so line→cluster assignment is exact w.r.t.
   the final catalog, and Σ size = line count holds.

The canonical, fully deterministic operators remain
``mining.mine_exact``/``mine_drainish``; this variant exists for
parity with the reference's clustering behavior (similarity-threshold
merging that the closed-form variant cannot express).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.preprocess import MASK_TOKEN
from .mining import build_catalog


class _Cluster:
    __slots__ = ("tokens", "size", "idx")

    def __init__(self, tokens: list[str], size: int = 0, idx: int = 0):
        self.tokens = tokens
        self.size = size
        self.idx = idx  # position in DrainMiner.clusters — O(1) id lookup


class DrainMiner:
    """Fixed-depth-tree online log clustering (He et al. 2017).

    ``depth`` counts internal levels: root → token-count → first
    ``depth-2`` tokens → leaf cluster list (reference knob
    tree_max_depth=4, drain3.ini). Numeric-looking tokens route through
    ``MASK_TOKEN`` branches so ids don't explode the tree (paper §III.B).
    """

    def __init__(self, depth: int = 4, sim_th: float = 0.4, max_clusters: int = 10000):
        self.depth = depth
        self.sim_th = sim_th
        self.max_clusters = max_clusters
        self.root: dict = {}
        self.clusters: list[_Cluster] = []
        self._overflow: _Cluster | None = None

    # -- tree navigation -----------------------------------------------------

    @staticmethod
    def _branch_token(tok: str) -> str:
        return MASK_TOKEN if any(ch.isdigit() for ch in tok) else tok

    def _leaf(self, tokens: list[str], create: bool) -> list[_Cluster] | None:
        node = self.root
        keys = [str(len(tokens))] + [
            self._branch_token(t) for t in tokens[: self.depth - 2]
        ]
        for k in keys:
            nxt = node.get(k)
            if nxt is None:
                if not create:
                    return None
                nxt = node[k] = {}
            node = nxt
        if "\0leaf" not in node:
            if not create:
                return None
            node["\0leaf"] = []
        return node["\0leaf"]

    # -- tokenization ----------------------------------------------------------

    @staticmethod
    def _tokens(message: str) -> list[str]:
        """drain3 tokenization: strip + split on any whitespace run
        (leading tabs vanish, multiple spaces collapse — both measured
        against the reference's golden catalog). A blank line becomes a
        single empty token so all blanks share one cluster rendering
        as the empty template, matching the golden's ``ID=68`` row."""
        return message.split() or [""]

    # -- similarity ------------------------------------------------------------

    @staticmethod
    def _sim_fit(tpl: list[str], msg: list[str]) -> tuple[float, int]:
        """drain3 ``get_seq_distance(include_params=False)``: the
        fraction of template positions whose LITERAL token equals the
        message token; accumulated ``<*>`` positions are skipped (they
        neither help nor hurt the numerator but stay in the
        denominator), returned separately for the fast_match
        tie-break."""
        if len(tpl) != len(msg) or not tpl:
            return 0.0, 0
        sim = 0
        params = 0
        for x, y in zip(tpl, msg):
            if x == MASK_TOKEN:
                params += 1
            elif x == y:
                sim += 1
        return sim / len(tpl), params

    @staticmethod
    def _sim_match(tpl: list[str], msg: list[str]) -> float:
        """Inference-side similarity: a mined ``<*>`` matches any
        concrete token (re-matching a corpus against a finished
        catalog)."""
        if len(tpl) != len(msg) or not tpl:
            return 0.0
        same = sum(
            1 for x, y in zip(tpl, msg) if x == y or MASK_TOKEN in (x, y)
        )
        return same / len(tpl)

    # -- fit -------------------------------------------------------------------

    def add(self, message: str, count: int = 1) -> int:
        """Absorb one (masked) message; returns the cluster index."""
        tokens = self._tokens(message)
        leaf = self._leaf(tokens, create=True)
        best, best_sim, best_params = None, -1.0, -1
        for cl in leaf:
            s, p = self._sim_fit(cl.tokens, tokens)
            if s > best_sim or (s == best_sim and p > best_params):
                best, best_sim, best_params = cl, s, p
        if best is not None and best_sim >= self.sim_th:
            best.tokens = [
                x if x == y else MASK_TOKEN for x, y in zip(best.tokens, tokens)
            ]
            best.size += count
            return best.idx
        if len(self.clusters) >= self.max_clusters:
            # overflow: never grow past the cap — absorb into the closest
            # leaf cluster if any, else a single catch-all "<*>" cluster
            # (at most max_clusters regular clusters + 1 catch-all)
            if best is not None:
                best.size += count
                return best.idx
            if self._overflow is None:
                self._overflow = _Cluster([MASK_TOKEN], 0, idx=len(self.clusters))
                self.clusters.append(self._overflow)
            self._overflow.size += count
            return self._overflow.idx
        return self._append(leaf, tokens, count)

    def seed(self, template: str, size: int) -> int:
        """Restore one persisted cluster as it is — appended to its
        leaf, never similarity-merged (``add`` would merge clusters the
        saved state kept apart); returns the cluster index."""
        tokens = self._tokens(template)
        return self._append(self._leaf(tokens, create=True), tokens, size)

    def _append(self, leaf: list[_Cluster], tokens: list[str], size: int) -> int:
        cl = _Cluster(tokens, size, idx=len(self.clusters))
        leaf.append(cl)
        self.clusters.append(cl)
        return cl.idx

    # -- inference ---------------------------------------------------------------

    def match(self, message: str) -> int | None:
        """T2 semantics: find the best cluster WITHOUT updating state
        (template_miner.match, process_logs.py:71); None if no leaf or
        below threshold."""
        tokens = self._tokens(message)
        leaf = self._leaf(tokens, create=False)
        if not leaf:
            return None
        best, best_sim = None, -1.0
        for cl in leaf:
            s = self._sim_match(cl.tokens, tokens)
            if s > best_sim:
                best, best_sim = cl, s
        if best is None or best_sim < self.sim_th:
            return None
        return best.idx

    def templates(self) -> list[tuple[str, int]]:
        return [(" ".join(c.tokens), c.size) for c in self.clusters]


#: adaptive cutover for ``fit_distributed``: with at most this many
#: DISTINCT templates the fit runs on the driver directly — a single
#: limited collect of the (already line-count-reduced) counts table,
#: no Arrow/mapInPandas stage, whose fixed per-query overhead (~1-2 s
#: of Python-worker round-trips) dwarfs a small fit. Beyond the cap
#: the per-partition-fit → driver-merge path takes over; 50k templates
#: × ~100 B is a ~5 MB collect either way, so the fast path never
#: strains the driver.
DRIVER_FIT_CAP = 50_000


def fit_distributed(
    parsed: DataFrame,
    masked_col: str = "masked",
    depth: int = 4,
    sim_th: float = 0.4,
    max_clusters: int = 10000,
) -> DataFrame:
    """Fit Drain at scale: per-partition miners → driver merge.

    Returns the catalog ``(cluster_id, size, template, template_hash)``
    (``mining.build_catalog``). The partition
    stage reduces each partition to its local template summaries, so
    driver traffic is O(partitions × templates-per-partition), never
    O(lines). When the distinct-template table itself is small
    (≤ ``DRIVER_FIT_CAP``) the partition stage is skipped entirely and
    the driver fits the collected counts — detected with one
    early-terminating ``limit(cap+1)`` collect, so the common case
    costs one job and the large case only a truncated scan extra.

    PATH DIVERGENCE (explicit, not merely a count-weighting argument):
    the two paths are NOT bit-equivalent. The small path fits one miner
    over all distinct messages in sorted order; the large path fits one
    miner per partition and then replays each partition's local
    TEMPLATES (already wildcarded) into the merge miner, so a corpus
    crossing the cap can see a discontinuous catalog change — templates
    that would have stayed separate under a single fit may merge once
    partial templates (containing ``<*>``) are replayed. Both paths
    satisfy the same invariants (sum of sizes = line count; every line
    matches some template at ``sim_th``), which is what the oracle and
    ``test_drain.py`` pin; the canonical bit-stable catalog for parity
    comparisons is T1a's exact mining, not this operator. If bit-stable
    catalogs across data scale matter to a deployment, pin the path by
    setting ``DRIVER_FIT_CAP`` to 0 (always distributed) or a value
    above the largest expected distinct count (always single-fit)
    rather than relying on the data-dependent cutover.
    """
    spark = parsed.sparkSession

    def fit_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        miner = DrainMiner(depth, sim_th, max_clusters)
        for pdf in batches:
            for msg, k in zip(pdf[masked_col], pdf["__cnt"]):
                miner.add(msg, int(k))
        yield pd.DataFrame(miner.templates(), columns=["template", "size"])

    # reduce to DISTINCT masked messages + counts in the JVM first
    # (map-side combine): add(msg, k) ≡ k× add(msg), so the fit is
    # identical, but downstream sees O(distinct) rows instead of
    # O(lines)
    counts = (
        parsed.filter(F.col(masked_col).isNotNull())
        .groupBy(masked_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    head = counts.limit(DRIVER_FIT_CAP + 1).collect()
    if len(head) <= DRIVER_FIT_CAP:
        # small catalog: fit once on the driver, sorted for determinism
        rows = sorted((r[masked_col], r["__cnt"]) for r in head)
    else:
        # large catalog: per-partition fit over the full counts table
        # (recomputed — the truncated collect above saw only a prefix),
        # Arrow-shipping each partition's template summary only
        partials = counts.mapInPandas(
            fit_partition, schema="template string, size long"
        )
        # driver merge: replay partition templates into a fresh miner
        # in sorted order — deterministic given the partial template set
        rows = sorted((r.template, r.size) for r in partials.collect())
    merged = DrainMiner(depth, sim_th, max_clusters)
    for template, size in rows:
        merged.add(template, int(size))
    # under the faithful fit similarity (wildcards excluded), replaying
    # two already-eroded partials can leave distinct clusters that have
    # converged to the SAME template string — collapse them so the
    # catalog keys stay unique (size is conserved either way)
    agg: dict[str, int] = {}
    for t, size in merged.templates():
        agg[t] = agg.get(t, 0) + size
    return build_catalog(
        spark.createDataFrame(list(agg.items()), "template string, size long")
    )


def match_distributed(
    parsed: DataFrame,
    catalog: DataFrame,
    masked_col: str = "masked",
    depth: int = 4,
    sim_th: float = 0.4,
) -> DataFrame:
    """Broadcast the catalog, rebuild the (small) tree per executor,
    and match every line — exact w.r.t. the merged catalog."""
    spark = parsed.sparkSession
    cat_rows = [(r.cluster_id, r.template) for r in catalog.collect()]
    b = spark.sparkContext.broadcast(cat_rows)

    @F.pandas_udf("long")
    def drain_match(msgs: pd.Series) -> pd.Series:
        miner = DrainMiner(depth, sim_th, max_clusters=len(b.value) + 1)
        # replaying catalog templates can merge similar ones — map the
        # miner's cluster index back to the FIRST catalog id it absorbed
        idx_to_cid: dict[int, int] = {}
        for cid, template in b.value:
            idx = miner.add(template, 0)
            idx_to_cid.setdefault(idx, cid)

        def lookup(m):
            idx = miner.match(m)
            return None if idx is None else idx_to_cid.get(idx)

        # tree-match once per distinct message in the batch, then
        # broadcast-map the answers back over the rows
        uniq = {m: lookup(m) for m in msgs.dropna().unique()}
        return msgs.map(lambda m: uniq.get(m) if m is not None else None)

    return parsed.withColumn("cluster_id", drain_match(F.col(masked_col)))
