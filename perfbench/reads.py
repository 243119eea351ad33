"""The read mix (search and graph calls) and its independent oracles.

A round of reads is a fixed list of call kinds; only the arguments are
drawn from the seeded RNG, so every round attempts the same operations.
Each call is timed from the call to the end of ``collect`` (``toPandas``
for DataFrame results). Results are kept and checked after the timed
window against computations that share no code with the program:

- ``semantic`` / ``similar``: NumPy brute-force cosine top-k over the
  store's embeddings (the hash-embedding spec re-implemented below),
  ties broken by id;
- ``text``, ``metadata``, ``mentioners``, ``conv_entities``, ``stats``:
  pandas filters and sorts over the store read with pyarrow;
- ``find_path``: a chain of real edges whose length is the networkx
  shortest-path length, or ``None`` exactly when that length exceeds
  ``max_depth`` (or no path exists). The timed calls have no path to
  find; ``reachable_paths`` adds untimed calls that do.

``hybrid`` is timed but only its shape is checked (k rows, ranks 1..n).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from hikma_engine_spark import vocab
from hikma_engine_spark.query import graph_queries as gq
from hikma_engine_spark.query import search as sq

SEARCH_KINDS = ("semantic", "semantic_typed", "semantic_conv", "hybrid", "text",
                "text_absent", "metadata", "similar")
# per-layer metric of each call kind (the median of its calls)
LAYER_NAME = {
    "semantic": "search.semantic_ms",
    "semantic_typed": "search.semantic_ms",
    "semantic_conv": "search.semantic_ms",
    "hybrid": "search.hybrid_ms",
    "text": "search.text_ms",
    "text_absent": "search.text_ms",
    "metadata": "search.metadata_ms",
    "similar": "search.similar_ms",
    "mentioners": "traverse.mentioners_ms",
    "mentioners_hot": "traverse.mentioners_ms",
    "conv_entities": "traverse.conv_entities_ms",
    "find_path": "traverse.find_path_ms",
    "stats": "traverse.stats_ms",
}
ABSENT_WORDS = ["quuxplorer", "zentrobyte", "flimwaddle", "grobnitz", "vorpalix"]
K = 10
MAX_DEPTH = 3
DIM = 64  # width of the program's hash embedding
PATH_CHECKS = 2  # untimed find_path calls a run whose destination is reachable


class Terms:
    """Argument pools for the read mix, drawn from the input corpus."""

    def __init__(self, pdf: pd.DataFrame, rng: np.random.RandomState,
                 entity_surfaces: list[str] | None = None,
                 deleted: set[str] = frozenset()) -> None:
        # conversations a delta deletes are never an argument: a call on
        # them would fail or not depending on when it ran
        pdf = pdf[~pdf["conv_id"].isin(deleted)]
        sizes = pdf.groupby("conv_id").size()
        self.convs = sorted(sizes[sizes <= 200].index.tolist())
        self.turns = pdf[["conv_id", "turn_idx"]]
        # path sources: turns with a DEPENDS_ON sentence, so the walk
        # always has entities to expand from
        self.path_turns = pdf.loc[
            pdf["text"].str.contains(" depends on ", regex=False), ["conv_id", "turn_idx"]
        ]
        self.hot = [a for c in vocab.HOT_ENTITIES for a in vocab.ALIAS_CLUSTERS[c]]
        # hot aliases sit in ~1/3 of all turns; they get their own call
        # kind so that a seed drawing one does not change a kind's work
        self.gazetteer = sorted(
            {a for al in vocab.ALIAS_CLUSTERS.values() for a in al} - set(self.hot)
        )
        self.surfaces = entity_surfaces or self.gazetteer
        self.rng = rng

    def pick(self, seq):
        return seq[int(self.rng.randint(len(seq)))]

    def turn_id(self, turns: pd.DataFrame | None = None) -> str:
        turns = self.turns if turns is None else turns
        r = turns.iloc[int(self.rng.randint(len(turns)))]
        return f"turn:{r.conv_id}#{int(r.turn_idx)}"


def plan_round(t: Terms, rnd: int) -> list[tuple[str, dict]]:
    """One round: every call kind once, 8 search calls and 5 graph
    calls. Even rounds draw their entities from the gazetteer surfaces,
    odd rounds from ``t.surfaces`` (the handles, in the handles
    workload)."""
    pool = t.gazetteer if rnd % 2 == 0 else t.surfaces
    return [
        ("semantic", {"query": t.pick(pool)}),
        ("semantic_typed", {"query": t.pick(vocab.TOOLS) + " " + t.pick(pool),
                            "node_types": ["Turn"]}),
        ("semantic_conv", {"query": t.pick(pool), "conv_id": t.pick(t.convs)}),
        ("hybrid", {"query": t.pick(pool)}),
        ("text", {"query": t.pick(pool)}),
        ("text_absent", {"query": t.pick(ABSENT_WORDS)}),
        ("metadata", {"node_types": ["Turn", "Mention"], "conv_id": t.pick(t.convs)}),
        ("similar", {"node_id": t.turn_id()}),
        ("mentioners", {"entity_id": "entity:" + t.pick(pool)}),
        ("mentioners_hot", {"entity_id": "entity:" + t.pick(t.hot)}),
        ("conv_entities", {"conv_id": t.pick(t.convs)}),
        # a conversation node has no out-edges, so no other turn reaches
        # it: the walk runs to max_depth (or until nothing is left to
        # expand) and returns None -- the same work whatever the seed
        ("find_path", {"src_id": t.turn_id(t.path_turns), "dst_id": "conv:" + t.pick(t.convs)}),
        ("stats", {}),
    ]


def family(kind: str) -> str:
    return "search" if kind in SEARCH_KINDS else "traverse"


def execute(kind: str, args: dict, nodes, edges):
    """Run one call against the store's DataFrames; returns a pandas
    frame, a dict (stats) or a path (find_path)."""
    if kind in ("semantic", "semantic_typed", "semantic_conv"):
        return sq.semantic_search(nodes, args["query"], k=K,
                                  node_types=args.get("node_types"),
                                  conv_id=args.get("conv_id")).toPandas()
    if kind == "hybrid":
        return sq.hybrid_search(nodes, args["query"], k=K).toPandas()
    if kind in ("text", "text_absent"):
        return sq.text_search(nodes, args["query"], k=K).toPandas()
    if kind == "metadata":
        return sq.metadata_search(nodes, node_types=args["node_types"],
                                  conv_id=args["conv_id"], limit=100).toPandas()
    if kind == "similar":
        return sq.find_similar(nodes, args["node_id"], k=K).toPandas()
    if kind in ("mentioners", "mentioners_hot"):
        return gq.entity_mentioners(edges, args["entity_id"]).toPandas()
    if kind == "conv_entities":
        return gq.entities_in_conversation(edges, args["conv_id"]).toPandas()
    if kind == "find_path":
        return gq.find_path(edges, args["src_id"], args["dst_id"], max_depth=MAX_DEPTH)
    if kind == "stats":
        return gq.kg_stats(nodes, edges)
    raise ValueError(kind)


# ---------------------------------------------------------------- oracles

_TOKEN = re.compile(r"[a-z0-9]+")


def hash_embedding(text: str) -> np.ndarray:
    """The deterministic hash-embedding spec: lowercase [a-z0-9]+ tokens,
    md5 → bucket (first 4 bytes mod DIM) and sign (bit 0 of byte 4),
    summed, L2-normalised, stored as float32."""
    vec = np.zeros(DIM)
    for tok in _TOKEN.findall(text.lower()):
        d = hashlib.md5(tok.encode()).digest()
        vec[int.from_bytes(d[:4], "big") % DIM] += 1.0 if d[4] & 1 else -1.0
    n = np.linalg.norm(vec)
    return (vec / n if n > 0 else vec).astype(np.float32)


def read_table(path: str, columns: list[str]) -> pd.DataFrame:
    tbl = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    pdf = tbl.to_pandas()
    for c in ("node_type", "edge_type"):
        if c in pdf.columns:
            pdf[c] = pdf[c].astype(str)
    return pdf


class Store:
    """The store, read with pyarrow, in the shapes the oracles need."""

    def __init__(self, out_dir: str) -> None:
        self.nodes = read_table(
            f"{out_dir}/nodes",
            ["id", "node_type", "conv_id", "turn_idx", "source_text", "embedding"],
        )
        self.edges = read_table(
            f"{out_dir}/edges", ["src", "edge_type", "dst", "conv_id", "turn_idx"]
        )
        has = self.nodes["embedding"].notna().to_numpy()
        self.emb_ids = self.nodes["id"].to_numpy(dtype=object)[has]
        self.emb_types = self.nodes["node_type"].to_numpy(dtype=object)[has]
        self.emb_convs = self.nodes["conv_id"].to_numpy(dtype=object)[has]
        self.emb = np.stack(self.nodes["embedding"].to_numpy()[has]).astype(np.float64)
        self.emb_norm = np.linalg.norm(self.emb, axis=1)
        self._graph = None

    def cosine_topk(self, qv: np.ndarray, k: int, mask: np.ndarray) -> tuple[list, np.ndarray]:
        qv = qv.astype(np.float64)
        qn = np.linalg.norm(qv)
        dots = self.emb[mask] @ qv
        den = self.emb_norm[mask] * qn
        sims = np.where(den > 0, dots / np.where(den > 0, den, 1.0), 0.0)
        ids = self.emb_ids[mask]
        order = np.lexsort((ids, -np.round(sims, 9)))[:k]
        return list(ids[order]), sims[order]

    def graph(self):
        if self._graph is None:
            import networkx as nx

            g = nx.DiGraph()
            g.add_edges_from(zip(self.edges["src"], self.edges["dst"]))
            self._graph = g
        return self._graph


def reachable_paths(t: Terms, st: Store, rng: np.random.RandomState) -> list[tuple[str, dict]]:
    """``PATH_CHECKS`` find_path calls whose destination the walk can
    reach: from a seeded path source, a node at the farthest networkx
    distance in 2..MAX_DEPTH. Sources that reach nothing past one hop
    are skipped."""
    import networkx as nx

    g = st.graph()
    calls = []
    for i in rng.permutation(len(t.path_turns)):
        r = t.path_turns.iloc[int(i)]
        src = f"turn:{r.conv_id}#{int(r.turn_idx)}"
        if src not in g:
            continue
        dist = nx.single_source_shortest_path_length(g, src, cutoff=MAX_DEPTH)
        far = max(dist.values())
        if far < 2:
            continue
        dsts = sorted(v for v, d in dist.items() if d == far)
        calls.append(("find_path", {"src_id": src, "dst_id": dsts[int(rng.randint(len(dsts)))]}))
        if len(calls) == PATH_CHECKS:
            break
    return calls


def _same_topk(got: pd.DataFrame, ids: list, sims: np.ndarray) -> bool:
    """Equal ranked ids, allowing swaps only among scores tied to 1e-9."""
    g_ids = list(got["id"])
    if g_ids == ids:
        return True
    if len(g_ids) != len(ids):
        return False
    g_sims = got["similarity"].to_numpy()
    if not np.allclose(g_sims, sims, atol=1e-9):
        return False
    kth = sims[-1] if len(sims) else 0.0
    diff = set(g_ids) ^ set(ids)
    return all(abs(s - kth) < 1e-9 for i, s in zip(ids, sims) if i in diff)


def check(kind: str, args: dict, got, st: Store) -> str | None:
    """None when the call's result matches the oracle, else a reason."""
    n, e = st.nodes, st.edges
    if kind in ("semantic", "semantic_typed", "semantic_conv"):
        mask = np.ones(len(st.emb_ids), dtype=bool)
        if args.get("node_types"):
            mask &= np.isin(st.emb_types, args["node_types"])
        if args.get("conv_id"):
            mask &= st.emb_convs == args["conv_id"]
        ids, sims = st.cosine_topk(hash_embedding(args["query"]), K, mask)
        return None if _same_topk(got, ids, sims) else f"top-k {list(got['id'])} != {ids}"
    if kind == "similar":
        row = n.loc[n["id"] == args["node_id"], "embedding"].iloc[0]
        mask = st.emb_ids != args["node_id"]
        ids, sims = st.cosine_topk(np.asarray(row, dtype=np.float32), K, mask)
        return None if _same_topk(got, ids, sims) else f"similar {list(got['id'])} != {ids}"
    if kind in ("text", "text_absent"):
        m = n[n["source_text"].fillna("").str.contains(args["query"], regex=False)
              & n["source_text"].notna()]
        m = m.assign(_len=m["source_text"].str.len()).sort_values(["_len", "id"])
        want = list(m["id"][:K])
        return None if list(got["id"]) == want else f"text {list(got['id'])} != {want}"
    if kind == "metadata":
        m = n[n["node_type"].isin(args["node_types"]) & (n["conv_id"] == args["conv_id"])]
        want = sorted(m["id"])[:100]
        return None if list(got["id"]) == want else "metadata rows differ"
    if kind in ("mentioners", "mentioners_hot"):
        m = e[(e["edge_type"] == "MENTIONS") & (e["dst"] == args["entity_id"])]
        m = m.sort_values(["conv_id", "turn_idx"])
        want = list(zip(m["src"], m["conv_id"], m["turn_idx"].astype(int)))
        have = list(zip(got["turn_id"], got["conv_id"], got["turn_idx"].astype(int)))
        return None if have == want else f"mentioners {len(have)} rows vs {len(want)}"
    if kind == "conv_entities":
        m = e[(e["edge_type"] == "MENTIONS") & (e["conv_id"] == args["conv_id"])]
        want = sorted(set(m["dst"]))
        return None if list(got["entity_id"]) == want else "conversation entities differ"
    if kind == "stats":
        want = {
            "nodes": n["node_type"].value_counts().to_dict(),
            "edges": e["edge_type"].value_counts().to_dict(),
        }
        return None if got == want else f"stats {got} != {want}"
    if kind == "find_path":
        import networkx as nx

        g = st.graph()
        src, dst = args["src_id"], args["dst_id"]
        try:
            dist = nx.shortest_path_length(g, src, dst) if src in g and dst in g else None
        except nx.NetworkXNoPath:
            dist = None
        if got is None:
            ok = dist is None or dist > MAX_DEPTH
            return None if ok else f"find_path None but networkx length {dist}"
        chain_ok = (
            got[0] == src and got[-1] == dst
            and all(g.has_edge(a, b) for a, b in zip(got, got[1:]))
        )
        if not chain_ok:
            return f"find_path {got} is not a chain of edges"
        return None if len(got) - 1 == dist else f"find_path length {len(got) - 1} != {dist}"
    if kind == "hybrid":
        ranks = list(got["rank"])
        return None if ranks == list(range(1, len(ranks) + 1)) and len(ranks) <= K else "hybrid ranks"
    raise ValueError(kind)
