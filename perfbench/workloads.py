"""The workloads: set-up, timed rounds, output checks, layer probes.

Each workload function takes a ``Ctx`` and fills ``ctx.metrics`` (the
end-to-end metrics), ``ctx.layers`` (the per-layer metrics; a traced run
adds its probes) and ``ctx.record`` (every per-call timing).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import inputs
import reads
from hikma_engine_spark import vocab
from hikma_engine_spark.pipeline import PHASES, Pipeline

# bucket count of the reindex store: 16 buckets give ~60 conversations
# per bucket on the 1,000-conversation corpus (on a 4-core host a delta
# took 11.6-17.3 s at 64 buckets, 4.1-9.6 s at 16)
N_BUCKETS = 16
PER_CONV_EDGES = ("IN_CONV", "IN_TURN", "REFERS_TO", "MENTIONS", "INVOKES")


class Ctx:
    def __init__(self, spark, work: str, seed: int, seconds: float, size: str, tracer,
                 mem) -> None:
        self.spark = spark
        self.mem = mem
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.tracer = tracer
        self.rng = np.random.RandomState(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []  # operations that raised
        self.problems: list[str] = []  # outputs that failed a check
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.record: dict = {"calls": [], "index": [], "setup": {}, "writes": []}

    def span(self, name: str, tag: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, tag)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, tag: str, fn):
        """Attempt one operation; returns (result, seconds, ok)."""
        self.attempted += 1
        with self.span(name, tag):
            t0 = time.perf_counter()
            try:
                res = fn()
            except Exception as exc:  # noqa: BLE001 -- counted, reported, run goes on
                self.failed += 1
                self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                return None, time.perf_counter() - t0, False
            return res, time.perf_counter() - t0, True


def _median(xs) -> float:
    return float(statistics.median(xs))


# ------------------------------------------------------------------ store IO

def listing(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of every parquet file under root."""
    out = {}
    for dp, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dp, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """Bytes and files that are new or replaced between two listings."""
    new = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in new), len(new)


def store_bytes(root: str) -> int:
    return sum(size for size, _ in listing(root).values())


# ------------------------------------------------------------------ set-up

def setup_corpus(ctx: Ctx, make) -> tuple[object, str, int]:
    """Generate and write the input three times (same seed, same bytes);
    the median is the corpus share of ``setup_s``."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        made = make()
        pdf = made[0] if isinstance(made, tuple) else made
        path = ctx.path("input.parquet")
        nbytes = inputs.write_parquet(pdf, path)
        times.append(time.perf_counter() - t0)
    ctx.record["setup"]["corpus_s"] = times
    ctx.layers["setup.corpus_s"] = _median(times)
    return made, path, nbytes


def build(ctx: Ctx, input_path: str, out: str, n_buckets: int | None = None):
    """One full build; in traced runs the phases are driven one call at
    a time (run(stop_after=phase), each resuming the last)."""
    p = Pipeline(ctx.spark, input_path, out, n_buckets=n_buckets)
    if ctx.tracer is None:
        p.run(resume=False)
        return p
    for ph in PHASES:
        with ctx.span(ph, ph) as sp:
            p.run(resume=True, stop_after=ph)
        ctx.record.setdefault("phases", []).append({"phase": ph, "sec": sp["sec"]})
    return p


def rounds(ctx: Ctx, limit: int | None = None):
    """Round numbers for the timed window: the first round always runs;
    another starts only while it is projected (from the last round's
    length) to end inside ``ctx.seconds``, and ``limit`` is not reached."""
    ctx.mem.window(True)
    t_start = time.perf_counter()
    rnd = 0
    while True:
        t_round = time.perf_counter()
        yield rnd
        rnd += 1
        now = time.perf_counter()
        if now - t_start + (now - t_round) > ctx.seconds or rnd == limit:
            break
    ctx.record["timed_s"] = time.perf_counter() - t_start
    ctx.mem.window(False)
    ctx.record["rounds"] = rnd


def read_round(ctx: Ctx, calls, out: str, keep: list | None, rnd: int,
               check: bool = False) -> None:
    """One call after another against the store at ``out``; ``check``
    marks visibility probes, which count as operations but are left out
    of the latency metrics."""
    nodes = ctx.spark.read.parquet(f"{out}/nodes")
    edges = ctx.spark.read.parquet(f"{out}/edges")
    for kind, args in calls:
        fam = "check" if check else reads.family(kind)
        res, sec, ok = ctx.op(kind, fam, lambda k=kind, a=args: reads.execute(k, a, nodes, edges))
        ctx.record["calls"].append(
            {"round": rnd, "kind": kind, "family": fam, "ms": sec * 1000.0, "ok": ok,
             "args": dict(args)}
        )
        if ok and keep is not None:
            keep.append((kind, args, res))


# ------------------------------------------------------------------ handles

def handles(ctx: Ctx) -> None:
    size = ctx.size
    (pdf, cluster), input_path, in_bytes = setup_corpus(
        ctx, lambda: inputs.handle_corpus(ctx.seed, size)
    )
    terms = reads.Terms(pdf, ctx.rng, sorted(cluster))

    # warm-up: one untimed build and one untimed read round
    t0 = time.perf_counter()
    with ctx.span("warmup", "warmup"):
        Pipeline(ctx.spark, input_path, ctx.path("warm")).run(resume=False)
        read_round(ctx, reads.plan_round(terms, 0), ctx.path("warm"), None, -1)
    ctx.layers["setup.base_build_s"] = time.perf_counter() - t0
    ctx.attempted = ctx.failed = 0
    ctx.record["calls"].clear()

    kept: list = []
    index_s: list[float] = []
    out = None
    for rnd in rounds(ctx):
        out = ctx.path(f"kg{rnd}")
        _, sec, ok = ctx.op("build", "index", lambda: build(ctx, input_path, out))
        if ok:
            index_s.append(sec)
        ctx.record["index"].append({"round": rnd, "kind": "build", "sec": sec, "ok": ok})
        b, f = written({}, listing(out))
        ctx.record["writes"].append({"round": rnd, "bytes": b, "files": f, "input_bytes": in_bytes})
        read_round(ctx, reads.plan_round(terms, rnd), out, kept, rnd)

    _finish_reads_metrics(ctx, index_s, store_bytes(out) / in_bytes)
    t_check = time.perf_counter()
    st = reads.Store(out)
    for kind, args, res in kept:
        why = reads.check(kind, args, res, st)
        if why:
            ctx.problems.append(f"{kind} {args}: {why}")
    check_paths(ctx, terms, out, st)
    check_graph(ctx, pdf, st)
    check_handles(ctx, out, cluster)
    ctx.record["check_s"] = time.perf_counter() - t_check
    if ctx.tracer is not None:
        probes(ctx, input_path, out, in_bytes)


def _finish_reads_metrics(ctx: Ctx, index_s: list[float], kg_ratio: float) -> None:
    """``search_ms`` / ``traverse_ms``: the geometric mean, over the call
    kinds of the family, of each kind's median latency. Every kind
    weighs the same however its latency compares with the others', so
    the figure does not jump between kinds the way a median over a
    mix of fast and slow kinds does."""
    calls = [c for c in ctx.record["calls"] if c["ok"] and c["family"] != "check"]

    def geomean_of_kind_medians(family: str) -> float:
        by_kind: dict[str, list[float]] = {}
        for c in calls:
            if c["family"] == family:
                by_kind.setdefault(c["kind"], []).append(c["ms"])
        meds = [_median(v) for v in by_kind.values()]
        return float(np.exp(np.mean(np.log(meds))))

    ctx.metrics.update(
        {
            "index_s": _median(index_s),
            "search_ms": geomean_of_kind_medians("search"),
            "traverse_ms": geomean_of_kind_medians("traverse"),
            "kg_bytes_per_input_byte": kg_ratio,
        }
    )
    for fam in ("search", "traverse"):
        xs = [c["ms"] for c in calls if c["family"] == fam]
        ctx.record[f"{fam}_p50_ms"] = _median(xs)
        ctx.record[f"{fam}_calls"] = len(xs)
    for name in set(reads.LAYER_NAME.values()):
        xs = [c["ms"] for c in calls if reads.LAYER_NAME[c["kind"]] == name]
        if xs:
            ctx.layers[name] = _median(xs)
    w = ctx.record["writes"]
    ctx.layers["write.bytes"] = _median([x["bytes"] for x in w])
    ctx.layers["write.files"] = _median([x["files"] for x in w])
    ctx.layers["write.amplification"] = _median([x["bytes"] / x["input_bytes"] for x in w])


def check_paths(ctx: Ctx, terms: reads.Terms, out: str, st: reads.Store) -> None:
    """The timed find_path calls have no path to find, so a walk that
    never finds one would pass them; these calls have one, and each must
    return a chain of real edges as long as the networkx shortest path."""
    calls = reads.reachable_paths(terms, st, np.random.RandomState(ctx.seed + 2))
    if len(calls) < reads.PATH_CHECKS:
        ctx.problems.append(f"only {len(calls)} reachable find_path destinations found")
    got: list = []
    read_round(ctx, calls, out, got, -1, check=True)
    for kind, args, res in got:
        why = reads.check(kind, args, res, st)
        if why:
            ctx.problems.append(f"{kind} {args}: {why}")
    ctx.record["path_checks"] = [
        {**args, "path": res} for _kind, args, res in got
    ]


def check_graph(ctx: Ctx, pdf: pd.DataFrame, st: reads.Store) -> None:
    """Per-conversation edges of a seeded sample of conversations meet
    the P/R ≥ 0.95 bar against the pure-Python oracle; Turn and
    Conversation node counts equal the input's rows and conv ids."""
    import oracle_kg

    rng = np.random.RandomState(ctx.seed + 1)
    convs = sorted(pdf["conv_id"].unique())
    sample = set(rng.choice(convs, size=min(40, len(convs)), replace=False))
    sub = pdf[pdf["conv_id"].isin(sample)]
    golden = {
        t for t in oracle_kg.golden_triples(sub)
        if t[1] in PER_CONV_EDGES
    }
    e = st.edges
    e = e[e["conv_id"].isin(sample) & e["edge_type"].isin(PER_CONV_EDGES)]
    engine = set(zip(e["src"], e["edge_type"], e["dst"]))
    tp = len(engine & golden)
    p = tp / len(engine) if engine else 0.0
    r = tp / len(golden) if golden else 0.0
    ctx.record["graph_check"] = {"precision": p, "recall": r, "convs": len(sample)}
    if p < 0.95 or r < 0.95:
        ctx.problems.append(f"graph P/R {p:.4f}/{r:.4f} below 0.95")
    counts = st.nodes["node_type"].value_counts()
    if counts.get("Turn", 0) != len(pdf):
        ctx.problems.append(f"Turn nodes {counts.get('Turn', 0)} != input rows {len(pdf)}")
    if counts.get("Conversation", 0) != pdf["conv_id"].nunique():
        ctx.problems.append("Conversation nodes != distinct conv_id")


def _shingles(s: str) -> set[str]:
    p = "^" + s.lower() + "$"
    return {p[i:i + 3] for i in range(len(p) - 2)} if len(p) >= 3 else {p}


# banding with k=32, 16 bands x 2 rows misses a pair of Jaccard J with
# probability (1 - J^2)^16; at J >= 0.8 that is below 1e-7 per pair
SURE_JACCARD = 0.8


def check_handles(ctx: Ctx, out: str, cluster: dict[str, int]) -> None:
    import oracle_kg

    links = reads.read_table(f"{out}/links", ["surface_norm", "canonical_norm"])
    canon = dict(zip(links["surface_norm"], links["canonical_norm"]))
    gaz = set(vocab.surface_to_canonical()) | set(vocab.surface_to_canonical().values())
    handles = {s for s in canon if s not in gaz}
    if handles != set(cluster):
        ctx.problems.append(
            f"linked handles differ from inserted: {len(handles - set(cluster))} extra, "
            f"{len(set(cluster) - handles)} missing"
        )
    bad = [c for c in set(canon.values()) if canon.get(c) != c]
    if bad:
        ctx.problems.append(f"{len(bad)} canonicals are not their own canonical, e.g. {bad[:3]}")
    want = oracle_kg.expected_canonical({s for s in canon if s in gaz})
    wrong = [s for s, c in want.items() if canon[s] != c]
    if wrong:
        ctx.problems.append(f"gazetteer canonicals wrong for {wrong[:5]}")
    # exact all-pairs Jaccard over pairs sharing at least one shingle
    sh = {h: _shingles(h) for h in cluster}
    inv: dict[str, list[str]] = {}
    for h, s in sh.items():
        for g in s:
            inv.setdefault(g, []).append(h)
    pairs = set()
    for hs in inv.values():
        if len(hs) < 200:
            pairs.update((a, b) for i, a in enumerate(hs) for b in hs[i + 1:])
    sure = [(a, b) for a, b in pairs
            if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= SURE_JACCARD]
    split = [(a, b) for a, b in sure if canon.get(a) != canon.get(b)]
    if split:
        ctx.problems.append(f"{len(split)} sure pairs split, e.g. {split[:3]}")
    by_canon: dict[str, set[int]] = {}
    for h in cluster:
        by_canon.setdefault(canon.get(h, h), set()).add(cluster[h])
    merged = [c for c, cl in by_canon.items() if len(cl) > 1]
    if merged:
        ctx.problems.append(f"{len(merged)} canonicals merge distinct handle bases")
    ctx.record["handles_check"] = {
        "handles": len(cluster), "bases": len(set(cluster.values())),
        "sure_pairs": len(sure), "canonicals": len(by_canon),
    }


# ------------------------------------------------------------------ reindex

# the read kinds after each of a round's four deltas: every kind once
# per draw of the read mix, two draws a round
_REINDEX_SLICES = (
    ("semantic", "semantic_typed", "metadata"),
    ("hybrid", "text", "text_absent"),
    ("similar", "mentioners", "conv_entities", "semantic_conv"),
    ("mentioners_hot", "find_path", "stats"),
)
MAX_ROUNDS = 4  # the deltas generated up front; a round here takes ~30 s


def reindex(ctx: Ctx) -> None:
    size = "smoke" if ctx.size == "smoke" else "reindex"
    pdf, input_path, _ = setup_corpus(ctx, lambda: inputs.corpus(ctx.seed, size))
    seq = inputs.deltas(pdf, ctx.seed, 1 + len(_REINDEX_SLICES) * MAX_ROUNDS)
    terms = reads.Terms(pdf, ctx.rng, deleted={c for d in seq for c in d["deleted"]})
    out, ref = ctx.path("kg"), ctx.path("ref")

    # set-up: the bucketed base build, one untimed warm-up delta and one
    # untimed read round
    t0 = time.perf_counter()
    with ctx.span("base_build", "setup"):
        build(ctx, input_path, out, N_BUCKETS)
    with ctx.span("warmup", "warmup"):
        apply_delta(ctx, out, seq[0], -1)
        read_round(ctx, reads.plan_round(terms, 0), out, None, -1)
    ctx.layers["setup.base_build_s"] = time.perf_counter() - t0
    ctx.attempted = ctx.failed = 0
    for key in ("calls", "index", "writes"):
        ctx.record[key].clear()

    # a round: four deltas, each followed by visibility probes and a
    # slice of two draws of the read mix over the just-rewritten
    # directories (one draw gave one call per kind a run, and the kind
    # medians then moved with every slow call)
    index_s: list[float] = []
    i = 1
    for rnd in rounds(ctx, MAX_ROUNDS):
        plans = [reads.plan_round(terms, 2 * rnd), reads.plan_round(terms, 2 * rnd + 1)]
        for kinds in _REINDEX_SLICES:
            d = seq[i]
            sec = apply_delta(ctx, out, d, i)
            if sec is not None:
                index_s.append(sec)
            gone = d["deleted"][0]
            probe = [
                ("metadata", {"node_types": ["Turn"], "conv_id": d["grown"]}),
                ("metadata", {"node_types": ["Turn"], "conv_id": d["added"]}),
                ("metadata", {"node_types": ["Turn"], "conv_id": gone}),
                ("conv_entities", {"conv_id": gone}),
            ]
            got: list = []
            read_round(ctx, probe, out, got, rnd, check=True)
            check_visibility(ctx, d, got)
            for plan in plans:
                read_round(ctx, [c for c in plan if c[0] in kinds], out, None, rnd)
            i += 1
    final_path = ctx.path("final.parquet")
    final_bytes = inputs.write_parquet(seq[i - 1]["final"], final_path)
    _finish_reads_metrics(ctx, index_s, store_bytes(out) / final_bytes)

    # outside the timed window: compare with a bucketed full rebuild
    t_check = time.perf_counter()
    with ctx.span("reference_build", "check"):
        Pipeline(ctx.spark, final_path, ref, n_buckets=N_BUCKETS).run(resume=False)
    for table in ("nodes", "edges"):
        why = same_table(f"{out}/{table}", f"{ref}/{table}")
        if why:
            ctx.problems.append(f"incremental {table} != full rebuild: {why}")
    ctx.record["check_s"] = time.perf_counter() - t_check
    if ctx.tracer is not None:
        probes(ctx, final_path, out, final_bytes)


def apply_delta(ctx: Ctx, out: str, d: dict, i: int) -> float | None:
    path = ctx.path(f"delta{i}.parquet")
    delta_bytes = inputs.write_parquet(d["rows"], path)
    before = listing(out)
    p = Pipeline(ctx.spark, ctx.path("input.parquet"), out, n_buckets=N_BUCKETS)
    _, sec, ok = ctx.op(
        "run_incremental", "index",
        lambda: p.run_incremental(run_id=f"delta{i}", delta_path=path,
                                  deleted_conv_ids=d["deleted"]),
    )
    b, f = written(before, listing(out))
    ctx.record["index"].append({"delta": i, "kind": "delta", "sec": sec, "ok": ok,
                                "bytes_rewritten": b, "files_rewritten": f,
                                "delta_bytes": delta_bytes})
    ctx.record["writes"].append({"delta": i, "bytes": b, "files": f, "input_bytes": delta_bytes})
    return sec if ok else None


def check_visibility(ctx: Ctx, d: dict, got: list) -> None:
    """Reads right after a delta see its appended turns and its new
    conversation, and no rows of the deleted conversation."""
    if len(got) != 4:
        return  # a read failed; it is counted in `failed`
    grown, added, gone, gone_ents = (r for _k, _a, r in got)
    seen = set(grown["id"]) | set(added["id"])
    missing = [f"turn:{c}#{t}" for c, t in d["appended"] if f"turn:{c}#{t}" not in seen]
    if missing:
        ctx.problems.append(f"appended turns not readable: {missing[:3]}")
    if len(gone) or len(gone_ents):
        ctx.problems.append(f"deleted {d['deleted'][0]} still readable")


def same_table(a: str, b: str) -> str | None:
    """Order-insensitive multiset equality of two parquet tables: both
    are sorted on every scalar column and compared value for value."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    def scalar(col: pa.ChunkedArray) -> pa.ChunkedArray:
        # hive partition columns come back dictionary-encoded; a map's
        # entry order carries no meaning, so it is compared as sorted items
        if pa.types.is_dictionary(col.type):
            return col.cast(pa.string())
        if pa.types.is_map(col.type):
            return pa.chunked_array([pa.array(
                [None if m is None else repr(sorted(m)) for m in col.to_pylist()],
                pa.string())])
        return col

    def load(path: str) -> pa.Table:
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        return pa.table({c: scalar(t[c]) for c in sorted(t.column_names)})

    ta, tb = load(a), load(b)
    if ta.num_rows != tb.num_rows:
        return f"{ta.num_rows} rows vs {tb.num_rows}"
    if ta.column_names != tb.column_names:
        return f"columns {ta.column_names} vs {tb.column_names}"
    keys = [(c, "ascending") for c in ta.column_names
            if not pa.types.is_nested(ta[c].type)]
    ta, tb = ta.sort_by(keys), tb.sort_by(keys)
    for c in ta.column_names:
        if not ta[c].equals(tb[c]):
            return f"column {c} differs"
    return None


# ------------------------------------------------------------------ traced-run probes

def probes(ctx: Ctx, input_path: str, out: str, in_bytes: int) -> None:
    """Layer measures taken from outside the program, after the timed
    window: UDF kernels in this process, the embedding UDF and the
    materialize plans to a noop sink, and link's LSH/CC steps."""
    import kernels

    spark = ctx.spark
    from pyspark.sql import functions as F

    from hikma_engine_spark.functions.embeddings import embed_udf
    from hikma_engine_spark.operators import graph, lsh
    from hikma_engine_spark.stages import extract, link, materialize

    pdf = pd.read_parquet(input_path)
    ctx.layers.update(kernels.measure(pdf, ctx.seed))

    mentions = spark.read.parquet(f"{out}/mentions")
    if "bucket" in mentions.columns:
        mentions = mentions.drop("bucket")
    ctx.layers["extract.mentions"] = float(mentions.count())
    p = Pipeline(spark, input_path, ctx.path("probe_unused"))
    t = p.transcripts()

    with ctx.span("embed_noop", "probe") as sp:
        t.select(embed_udf(F.col("text")).alias("e")).write.format("noop").mode("overwrite").save()
    ctx.layers["embed.s"] = sp["sec"]

    with ctx.span("materialize_noop", "probe") as sp:
        links_df = spark.read.parquet(f"{out}/links")
        triples = extract.assemble_triples(t, mentions)
        edges = materialize.build_edges(triples, spark.read.parquet(f"{out}/same_as"))
        nodes = materialize.build_nodes(
            t, spark.read.parquet(f"{out}/conversations"), mentions, None, links_df,
            tool_ids=materialize.tool_source_ids(t, mentions),
        )
        edges.write.format("noop").mode("overwrite").save()
        nodes.write.format("noop").mode("overwrite").save()
    ctx.layers["materialize.compute_s"] = sp["sec"]

    surfaces = link.observed_surfaces(mentions).localCheckpoint(eager=True)
    feats = surfaces.select(
        F.col("surface_norm").alias("s"), lsh.char_shingles(F.col("surface_norm")).alias("shingles")
    )
    with ctx.span("lsh_candidates", "probe"):
        n_cand = lsh.lsh_candidate_pairs(
            feats, id_col="s", shingle_col="shingles", k=32, bands=16, rows=2
        ).count()
    sim = link.similarity_edges(surfaces).localCheckpoint(eager=True)
    n_acc = sim.count()
    pairs = sim.unionByName(link.alias_edges(surfaces)).localCheckpoint(eager=True)
    with ctx.span("connected_components", "probe") as sp:
        graph.connected_components(pairs).count()
    ctx.layers["link.cc_s"] = sp["sec"]
    links = reads.read_table(f"{out}/links", ["surface_norm", "canonical_norm"])
    ctx.layers["link.surfaces"] = float(len(links))
    ctx.layers["link.candidate_pairs"] = float(n_cand)
    ctx.layers["link.pair_yield"] = n_acc / n_cand if n_cand else 0.0
    ctx.layers["link.largest_component"] = float(links["canonical_norm"].value_counts().max())
    shutil.rmtree(ctx.path("probe_unused"), ignore_errors=True)


def phase_layers(ctx: Ctx) -> None:
    ph = ctx.record.get("phases", [])
    for name in PHASES:
        xs = [p["sec"] for p in ph if p["phase"] == name]
        if xs:
            ctx.layers[f"{name}.s"] = _median(xs)
    if "materialize.s" in ctx.layers and "materialize.compute_s" in ctx.layers:
        ctx.layers["materialize.write_s"] = (
            ctx.layers["materialize.s"] - ctx.layers["materialize.compute_s"]
        )


WORKLOADS = {"handles": handles, "reindex": reindex}
