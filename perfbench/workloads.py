"""The benchmark workloads: what each one sets up, times and checks.

Every workload runs in one process against one ``local[nproc]`` Spark
session. ``Run`` owns that session, the run's temporary root and the metric
dictionaries; a workload function fills them in.

Set-up starts a Spark session through the program's ``get_spark`` and then
has the program's page generators turn the seeded documents into pages
parquet tables, ``SETUP_REPS`` times; ``setup_s`` is the session start plus
the median preparation.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from perfbench import inputs, probes

SETUP_REPS = 3
BUILD_DOCS = 300
INGEST_DOCS = 300
# Output digests per seed, computed once at this benchmark's commit: a
# program change that alters outputs fails these gates. Other seeds get the
# structural gates only.
PINNED: dict[str, dict[int, str]] = {
    "build_dense": {
        1: "aecd8a0678a4931f7e40862ddc9cf994",
        2: "9f13277d6449eb57b9a0e27db66c7fb9",
        3: "ddb25fef6a32d53b7547aa993f065cf8",
        4: "89239c329912b24e7069d0d8781dad3f",
        5: "aa8b9fbb365fbcfdb23071fa06e0fa02",
        6: "8c2ddd30999fd3cacbb95e8e7dd028e2",
        7: "662b003bfd72d0e335c33315f018dbf4",
        8: "1cc4a58380fd2f86b283083865f6cffe",
        9: "a6d1753b8b64bfaffd7b9266a83ae39f",
        10: "f3a05c54c47e0da09b8939d0abd445e0",
        11: "0f5c77b0376d69bec736b7dcc261f908",
        12: "ba24d299d61131908994e8826539ecbe",
        13: "4d8efdeed571715d92becce97684f948",
        14: "c99be04eab23e6709256d12f5f3c1c94",
        15: "2891d8dea50b36f2e998bab74570f1a5",
        16: "3f5616717f09a3331f1e5e7d6fb08205",
        17: "fd24e1fa4af051f95f067cf332b37c73",
        18: "86e88b10edd5a62ec2f78438c3d5f7a7",
        19: "b96db5e9253c3b5bebdebbcf1504c5ff",
        20: "3f625760ee70f2379d8ffbb713279af6",
    },
    "ingest_state": {
        1: "eff0bf66dcc8b52316a6252df77f7589",
        2: "8940ce78d1a5cae5ec4537334388837c",
        3: "3db8d672125d41c95132ae401e650a36",
        4: "16e24b91074874fb3065e2b6f8021138",
        5: "730a188bc801546906ce27da2c9d03d8",
        6: "1bb1c5d6dcb36f4601c48cc6f8e0d85f",
        7: "5a89e920d66d223a3c123d050ffed7d0",
        8: "2375fc3aad8276e37ee3caa3eb1d3510",
        9: "ba26437ca20ad5b78780e54df7fea10e",
        10: "2d22f3865947fddcc77491e2be755228",
        11: "b1966229c4804eda41e319d59e8439f3",
        12: "a10215ad86692632067a2639d6365f16",
        13: "1d865eab9cb1fdd344667446c71a0145",
        14: "f807782d97af51ef18552a7de8c6adf2",
        15: "69b21bc5c4a4578b3da85114a3d5946d",
        16: "02f856b01385f09a050a546f7a9ef736",
        17: "a403cf880bbe8684c244a762a900da42",
        18: "1091da654f83ee18958d82b8db5d05dc",
        19: "ab6bd70bdb91a44109e3bfbf02ad576c",
        20: "73cef00604dcb5821d903c51a567a6cb",
    },
    "delta": {
        1: "df3a171413b2994476daad59c7ddb8bb",
        2: "190c347be4415aa58d79ae898d21cfa2",
        3: "403e2bf70a67fa26247e324b9bfa5d0c",
        4: "efc6409db5500a73612adb6421f00256",
        5: "74dbee38c65c358ae9795f364b23347d",
        6: "5ea95ab260909030f1dba9911466b290",
        7: "474314b3b2ff20099affbc1b5454cee9",
        8: "a3f8b47b9811973ce2db946ae8000f1d",
        9: "91b75f02af85563af6c7711d85928987",
        10: "ad8c476ea108b8a04f4902aba5a00e71",
        11: "63fe1fe0e048b07abbfda61ada6c62c2",
        12: "6405e5a637da68f1d7fa4ad8a2ccafc8",
        13: "7ce452d79176cb5ce210b641e4c45324",
        14: "adede23790d3929b105a3a967410bd37",
        15: "7ebf87d8d9d7fa3bb681aaa23bfd4986",
        16: "882f53abdb84eb1fbcac783279a57b6b",
        17: "f707688f73f04dd9e3d6593ced6524a9",
        18: "a68ca48a8ebb0eecb71c2ff4e7bf1a7c",
        19: "3b52723fc8629e46dff04a143d7be9a1",
        20: "4c3ea8e24e05ad71a891aa24b854c6c9",
    },
    "search": {
        1: "93e824e1447f5d798edd669dc4dfff40",
        2: "63d84376621756af137b5e08a16d638a",
        3: "efe2bcf80427eed2ec37799b64bdf3d5",
        4: "6fb0a8c6ae1d41c0eb80f6d750f5fe0d",
        5: "e1636abd596a2c0da821ac4035c00e58",
        6: "f37a7744a45279aab7416080a414a01f",
        7: "04b7caa4d527b11212ed04584cded99d",
        8: "a7515441f6ac7064c94bcb740d4a3567",
        9: "555033cf14e819b986add099511a9a4c",
        10: "f065d714642e7103603a2d2c76f4e33d",
        11: "0d1c03915c95a496b2b242b177aeef95",
        12: "5e88cb9de77df8117e8245b8eb233978",
        13: "4c0bf5471e5d5c5d63ff2d2f415ce175",
        14: "fcb6994b24f7006f70878f0e6c24d471",
        15: "0eb34a19e2f48675e15033c9fe8d493f",
        16: "dd215c07874491fa4924b17accd28f3e",
        17: "a6d03a915d08d434bee8c502dac5c3c8",
        18: "6df570e9023ad9a784897db2b0821fe3",
        19: "9e8846a76e3eee39f43285d5da6a7527",
        20: "214f5388dea98d293c214652509747c3",
    },
}

STAGE_GROUPS = (
    "s1_s2",
    "s3",
    "s4",
    "s5_catalog",
    "s5_candidates",
    "s5_score",
    "s6",
    "s7_s9",
)
INC_PHASES = (
    "s1_s2_episodes",
    "s3_s4_extract",
    "catalog_refresh",
    "er_pairs",
    "connected_components",
    "rebuild_upserts",
    "episodes_map_state",
)
# Python-UDF SQL metrics of the event log: boundary (start, init, bytes
# each way) apart from body (run) time.
UDF_METRICS = {
    "start_s": "time to start Python workers",
    "init_s": "time to initialize Python workers",
    "run_s": "time to run Python workers",
    "sent_mb": "data sent to Python workers",
    "returned_mb": "data returned from Python workers",
}
RECIPES = (
    "COMBINED_HYBRID_SEARCH_RRF",
    "COMBINED_HYBRID_SEARCH_MMR",
    "COMBINED_HYBRID_SEARCH_CROSS_ENCODER",
    "EDGE_HYBRID_SEARCH_NODE_DISTANCE",
    "EDGE_HYBRID_SEARCH_EPISODE_MENTIONS",
    "NODE_HYBRID_SEARCH_NODE_DISTANCE",
    "NODE_HYBRID_SEARCH_EPISODE_MENTIONS",
)


def report_udf(run: "Run", bucket) -> None:
    for key, name in UDF_METRICS.items():
        run.layer[f"udf.{key}"] = bucket.python.get(name, 0.0)


class Run:
    """One benchmark process: session, temporary root, metrics, outcome."""

    def __init__(self, root: str, seed: int, seconds: int, trace: bool, master: str, layers: list[str]):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.master = master
        work = os.path.join(root, ".perfbench_work")
        os.makedirs(work, exist_ok=True)
        # One mkdtemp root per run; everything the run writes is a child of
        # it, created by name, and the whole root goes in finally.
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=work)
        self.spark = None
        self.e2e: dict[str, float] = {}
        # a layer the workload bypasses reads 0
        self.layer: dict[str, float] = {n: 0.0 for n in layers}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: dict = {"failures": self.failures}
        self.eventlog_dir = os.path.join(self.tmp, "eventlog")
        self.t_start = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t_start:7.1f}s] {msg}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    @contextlib.contextmanager
    def operation(self):
        """One attempted operation; it failed if any check inside failed."""
        self.attempted += 1
        before = len(self.failures)
        yield
        if len(self.failures) > before:
            self.failed += 1

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def setup(self, prepare) -> None:
        """Start the Spark session, then run ``prepare(spark, rep_dir)``
        SETUP_REPS times. ``setup_s`` is the session start plus the median
        preparation: the JVM launches once per process, so only the
        preparation can repeat."""
        from graphiti_spark.session import get_spark

        os.makedirs(self.path("tmp"), exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        start = time.perf_counter() - t0
        self.log("session started")
        prep = []
        for i in range(SETUP_REPS):
            t1 = time.perf_counter()
            prepare(self.spark, self.path(f"inputs{i}"))
            prep.append(time.perf_counter() - t1)
            self.log(f"inputs prepared ({i + 1}/{SETUP_REPS})")
        self.inputs = self.path(f"inputs{SETUP_REPS - 1}")
        self.e2e["setup_s"] = start + statistics.median(prep)
        self.layer["session.start_s"] = start
        self.layer["setup.inputs_s"] = statistics.median(prep)
        # the first preparation also pays the session's first jobs: JIT and
        # Python worker start
        self.layer["setup.warmup_s"] = prep[0] - statistics.median(prep)
        self.notes["setup_s"] = {"session": round(start, 3), "inputs": [round(x, 3) for x in prep]}

    def group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    def fold_eventlog(self):
        """Stop the session (which flushes the log) and fold the log of the
        last application."""
        from perfbench import eventlog

        app_id = self.spark.sparkContext.applicationId
        probes.stop_spark(self.spark)
        self.spark = None
        t0 = time.perf_counter()
        fold = eventlog.fold_file(os.path.join(self.eventlog_dir, app_id))
        self.notes["job_groups"] = {
            g: {k: round(getattr(b, k), 3) for k in eventlog.COUNTERS} for g, b in fold.groups.items()
        }
        return fold, time.perf_counter() - t0

    def close(self) -> None:
        try:
            if self.spark is not None:
                probes.stop_spark(self.spark)
                self.spark = None
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)

    def timed_loop(self, op) -> list[dict]:
        """Call ``op()`` until ``seconds`` have passed (at least once).
        ``op`` returns the wall and process-tree CPU seconds of its timed
        part; peak memory covers the whole call."""
        samples = []
        t_end = time.perf_counter() + self.seconds
        while True:
            with self.operation(), probes.PeakRss() as rss:
                sample = op()
            sample["peak_rss_mb"] = rss.jvm_mb
            sample["python_rss_mb"] = rss.python_mb
            self.log(f"operation {len(samples) + 1}: {sample['wall_s']:.2f}s")
            samples.append(sample)
            if time.perf_counter() >= t_end:
                return samples

    def report_samples(self, samples: list[dict], work: dict[str, float]) -> None:
        """Medians of the per-operation samples; ``work`` maps a rate metric
        to the units of work one operation does."""
        med = {k: statistics.median(s[k] for s in samples) for k in ("wall_s", "cpu_s", "peak_rss_mb")}
        self.e2e.update(med)
        for name, units in work.items():
            self.e2e[name] = units / med["wall_s"]
        self.notes["op_walls_s"] = [round(s["wall_s"], 3) for s in samples]
        self.notes["python_rss_mb"] = [round(s["python_rss_mb"]) for s in samples]


# --------------------------------------------------------------------------
# digests and graph checks


def table_digest(df, key: str = "uuid") -> dict:
    """Row count, distinct keys, and an order-independent content hash:
    the sum of xxhash64 over each row's JSON (columns in sorted order)."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(key)).alias("nd"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
    ).first()
    return {"n": int(r["n"]), "distinct": int(r["nd"]), "hash": str(r["s"] or 0)}


def graph_digest(tables: dict) -> dict:
    """Digest of episodes/nodes/edges/mentions; also counts every output."""
    out = {name: table_digest(tables[name]) for name in ("episodes", "nodes", "edges", "mentions")}
    out["digest"] = hashlib.md5(
        json.dumps({k: v["hash"] for k, v in out.items()}, sort_keys=True).encode()
    ).hexdigest()
    return out


def check_graph(run: Run, tables: dict, digest: dict, label: str) -> None:
    """Unique ids; every edge endpoint and mention entity is a node."""
    from pyspark.sql import functions as F

    for name in ("episodes", "nodes", "edges", "mentions"):
        d = digest[name]
        run.check(d["n"] > 0 and d["n"] == d["distinct"], f"{label}: {name} ids unique, non-empty")
    nodes = tables["nodes"].select(F.col("uuid").alias("_n"))
    ends = (
        tables["edges"].select(F.col("source_node_uuid").alias("_n"))
        .union(tables["edges"].select(F.col("target_node_uuid").alias("_n")))
        .union(tables["mentions"].select(F.col("entity_uuid").alias("_n")))
    )
    dangling = ends.join(nodes, "_n", "left_anti").limit(1).count()
    run.check(dangling == 0, f"{label}: edge endpoints and mention entities are nodes")


def check_pinned(run: Run, key: str, digest: str) -> None:
    """For a pinned seed, the digest equals the pinned one."""
    run.notes[f"{key}_digest"] = digest
    if run.seed in PINNED[key]:
        run.check(digest == PINNED[key][run.seed], f"{key}: digest equals the pinned digest of seed {run.seed}")


# --------------------------------------------------------------------------
# build_dense


def _prepare_build(seed: int):
    def prepare(spark, d):
        from graphiti_spark.synth import pages_from_documents

        inputs.write_documents(inputs.documents(seed, BUILD_DOCS), os.path.join(d, "docs"))
        pages_from_documents(spark, os.path.join(d, "docs")).write.parquet(os.path.join(d, "pages"))

    return prepare


def build_dense(run: Run) -> None:
    from graphiti_spark.plans.pipeline import run_pipeline

    run.setup(_prepare_build(run.seed))
    pages_path = os.path.join(run.inputs, "pages")
    spark = run.spark
    results: list[dict] = []

    def op() -> dict:
        c0 = probes.tree_cpu_s()
        e0 = time.time()
        t0 = time.perf_counter()
        out = run_pipeline(spark, spark.read.parquet(pages_path))
        built = time.perf_counter() - t0
        e1 = time.time()
        tables = {
            "episodes": out["episodes_raw"],
            "nodes": out["nodes"],
            "edges": out["edges"],
            "mentions": out["mentions"],
        }
        digest = graph_digest(tables)
        t1 = time.perf_counter()
        cpu = probes.tree_cpu_s() - c0
        check_graph(run, tables, digest, "build_dense")
        check_pinned(run, "build_dense", digest["digest"])
        results.append({"e0": e0, "e1": e1, "built_s": built, "digest": digest})
        return {"wall_s": t1 - t0, "cpu_s": cpu}

    samples = run.timed_loop(op)
    first = results[0]["digest"]
    run.report_samples(
        samples,
        {"triples_per_s": first["edges"]["n"], "pages_per_s": first["episodes"]["n"]},
    )
    run.notes["counts"] = {k: first[k]["n"] for k in ("episodes", "nodes", "edges", "mentions")}
    if run.trace:
        _trace_build(run, results[-1])


def _trace_build(run: Run, plain: dict) -> None:
    """Replay the S1-S9 stages through their public functions, one job
    group each, then commit the replayed graph to parquet and run the query
    mix over the read-back tables. Jobs of the plain build are bucketed by
    its time window, since its S4 side thread carries no caller group."""
    from graphiti_spark.config import DEFAULT_CONFIG as cfg
    from graphiti_spark.operators.components import connected_components
    from graphiti_spark.operators.edge_merge import (
        build_duplicate_of_edges,
        canonical_nodes,
        merge_edges,
        remap_mentions,
        resolve_edge_pointers,
    )
    from graphiti_spark.operators.episodes import episodes_stage
    from graphiti_spark.operators.er import candidate_pairs, entity_catalog, score_and_filter_pairs
    from graphiti_spark.operators.extract_text import extract_text_stage
    from graphiti_spark.operators.ner import mentions_stage
    from graphiti_spark.operators.temporal import invalidate_contradictions
    from graphiti_spark.operators.triples import triples_stage
    from graphiti_spark.plans.pipeline import ensure_scan_width

    spark = run.spark
    pages = spark.read.parquet(os.path.join(run.inputs, "pages"))
    walls: dict[str, float] = {}
    rows: dict[str, int] = {}
    caches: list = []

    def stage(group: str, build):
        run.group(group)
        t0 = time.perf_counter()
        built = build()
        dfs = [d.localCheckpoint(eager=True) for d in (built if isinstance(built, tuple) else (built,))]
        walls[group] = time.perf_counter() - t0
        run.group("count")
        rows[group] = sum(d.count() for d in dfs)
        return dfs if len(dfs) > 1 else dfs[0]

    episodes = stage("s1_s2", lambda: episodes_stage(extract_text_stage(ensure_scan_width(spark, pages)), cfg))
    mentions_raw = stage("s3", lambda: mentions_stage(episodes))
    triples_raw = stage("s4", lambda: triples_stage(episodes))
    entities = stage("s5_catalog", lambda: entity_catalog(mentions_raw))
    cands = stage("s5_candidates", lambda: candidate_pairs(entities, cfg, caches=caches))
    dup_pairs = stage("s5_score", lambda: score_and_filter_pairs(entities, cands, cfg, caches=caches))
    for c in caches:
        c.unpersist(blocking=False)
    uuid_map = stage("s6", lambda: connected_components(dup_pairs, cfg))
    nodes, edges, mentions, _audit = stage(
        "s7_s9",
        lambda: (
            canonical_nodes(entities, uuid_map, cfg.created_at_iso),
            invalidate_contradictions(merge_edges(resolve_edge_pointers(triples_raw, uuid_map)), cfg),
            remap_mentions(mentions_raw, uuid_map),
            build_duplicate_of_edges(uuid_map, cfg.created_at_iso),
        ),
    )
    replay = {"episodes": episodes, "nodes": nodes, "edges": edges, "mentions": mentions}
    run.group("check")
    with run.operation():
        replay_digest = graph_digest(replay)
        run.check(
            replay_digest["digest"] == plain["digest"]["digest"],
            "build_dense: traced replay digest equals run_pipeline digest",
        )

    kg = run.path("kg")
    for name, df in replay.items():
        df.write.parquet(os.path.join(kg, name))
    graph = {name: spark.read.parquet(os.path.join(kg, name)) for name in replay}
    search_samples = _search_mix(run, graph)
    run.group(None)

    fold, fold_s = run.fold_eventlog()
    for g in STAGE_GROUPS:
        b = fold.group(g)
        run.layer[f"{g}.wall_s"] = walls[g]
        run.layer[f"{g}.rows_out"] = rows[g]
        run.layer[f"{g}.jobs"] = b.jobs
        run.layer[f"{g}.tasks"] = b.tasks
        run.layer[f"{g}.executor_cpu_s"] = b.executor_cpu_s
        run.layer[f"{g}.shuffle_write_mb"] = b.shuffle_write_mb
    run.layer["er.accept_ratio"] = rows["s5_score"] / max(rows["s5_candidates"], 1)
    whole = fold.window(plain["e0"], plain["e1"])
    run.layer["pipeline.jobs_total"] = whole.jobs
    run.layer["pipeline.gc_s"] = whole.gc_s
    run.layer["pipeline.spill_mb"] = whole.spill_mb
    run.layer["pipeline.overlap_gain_s"] = sum(walls.values()) - plain["built_s"]
    run.layer["trace.overhead_s"] = fold_s
    report_udf(run, whole)
    run.notes["python_udf"] = {g: dict(fold.group(g).python) for g in STAGE_GROUPS if fold.group(g).python}
    _report_search(run, fold, search_samples)


# --------------------------------------------------------------------------
# search mix (traced build only)


def _queries(seed: int, nodes_df) -> list[tuple[str, str, list[str]]]:
    import numpy as np

    rng = np.random.default_rng([seed, 2])
    origins = [r["uuid"] for r in nodes_df.select("uuid").orderBy("uuid").limit(64).collect()]
    seq = list(RECIPES)  # one query per recipe, in a seeded order
    rng.shuffle(seq)
    out = []
    for recipe in seq:
        words = rng.choice(np.array(inputs.VOCAB), size=int(rng.integers(1, 4)), replace=False)
        out.append((recipe, " ".join(words), [origins[int(rng.integers(0, len(origins)))]]))
    return out


def _search_mix(run: Run, graph: dict) -> list[dict]:
    """Closed loop, one client: each query starts when the previous one
    returned. Counts the fan-out legs each query actually ran."""
    from graphiti_spark.analytics import orchestrator
    from graphiti_spark.analytics import search_config

    legs = {"run": 0, "configured": 0}
    inner = orchestrator._run_methods

    def counting(*args, **kwargs):
        out = inner(*args, **kwargs)
        legs["configured"] += len(args[4])
        legs["run"] += len(out)
        return out

    samples = []
    orchestrator._run_methods = counting
    try:
        for i, (recipe, query, origin) in enumerate(_queries(run.seed, graph["nodes"])):
            run.group(f"q{i}")
            with run.operation():
                t0 = time.perf_counter()
                res = orchestrator.search(
                    query,
                    getattr(search_config, recipe),
                    edges=graph["edges"],
                    nodes=graph["nodes"],
                    episodes=graph["episodes"],
                    mentions=graph["mentions"],
                    bfs_origin_uuids=origin,
                )
                wall = time.perf_counter() - t0
                ids = [res.edges, res.nodes, res.episodes, res.communities]
                run.check(any(ids), f"search: {recipe} {query!r} returned results")
            samples.append({"recipe": recipe, "wall_s": wall, "group": f"q{i}", "ids": ids})
    finally:
        orchestrator._run_methods = inner
    run.notes["search_legs"] = legs
    return samples


def _report_search(run: Run, fold, samples: list[dict]) -> None:
    for r in RECIPES:
        walls = [s["wall_s"] for s in samples if s["recipe"] == r]
        run.layer[f"search.{r.lower()}.p50_s"] = statistics.median(walls)
    n = len(samples)
    buckets = [fold.group(s["group"]) for s in samples]
    run.layer["search.jobs_per_query"] = sum(b.jobs for b in buckets) / n
    run.layer["search.tasks_per_query"] = sum(b.tasks for b in buckets) / n
    run.layer["search.cpu_s_per_query"] = sum(b.executor_cpu_s for b in buckets) / n
    legs = run.notes["search_legs"]
    run.layer["search.leg_ratio"] = legs["run"] / max(legs["configured"], 1)
    digest = hashlib.md5(json.dumps([s["ids"] for s in samples]).encode()).hexdigest()
    with run.operation():
        check_pinned(run, "search", digest)


# --------------------------------------------------------------------------
# ingest_state


def _prepare_ingest(seed: int, with_delta: bool):
    """Base pages; the delta pages only when the traced run ingests them."""

    def prepare(spark, d):
        from graphiti_spark.synth import webtext_pages

        docs = inputs.documents(seed, INGEST_DOCS)
        mask = inputs.delta_mask(seed, len(docs))
        base_dir = inputs.write_documents(docs[~mask], os.path.join(d, "base_docs"))
        delta_dir = inputs.write_documents(docs[mask], os.path.join(d, "delta_docs"))
        webtext_pages(spark, base_dir).write.parquet(os.path.join(d, "base_pages"))
        if with_delta:
            webtext_pages(spark, delta_dir, pool="fresh").write.parquet(os.path.join(d, "delta_pages"))

    return prepare


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _state_digest(run: Run, state: str, label: str) -> dict:
    from graphiti_spark.plans.incremental import read_graph

    tables = read_graph(run.spark, state)
    tables["episodes"] = tables["episodes"].drop("entity_edges")
    digest = graph_digest(tables)
    check_graph(run, tables, digest, label)
    return digest


def ingest_state(run: Run) -> None:
    """Timed: ``run_pipeline_incremental`` of the base pages into empty
    on-disk state (the bootstrap path: the full DAG, then the parquet state
    tables, blocking postings and upserts). Each ingest writes a fresh state
    directory."""
    from graphiti_spark.plans.incremental import run_pipeline_incremental

    run.setup(_prepare_ingest(run.seed, run.trace))
    spark = run.spark
    base_pages = spark.read.parquet(os.path.join(run.inputs, "base_pages"))
    n_base = base_pages.count()
    results: list[dict] = []

    def op() -> dict:
        state = run.path(f"state{len(results)}")  # fresh child of the run root
        c0 = probes.tree_cpu_s()
        e0 = time.time()
        t0 = time.perf_counter()
        run_pipeline_incremental(spark, base_pages, state)
        wall = time.perf_counter() - t0
        e1 = time.time()
        cpu = probes.tree_cpu_s() - c0
        digest = _state_digest(run, state, "ingest_state")
        run.check(digest["episodes"]["n"] == n_base, "ingest_state: every page became an episode")
        check_pinned(run, "ingest_state", digest["digest"])
        if results:
            shutil.rmtree(results[-1]["state"])
        results.append({"e0": e0, "e1": e1, "state": state, "digest": digest})
        return {"wall_s": wall, "cpu_s": cpu}

    samples = run.timed_loop(op)
    last = results[-1]
    run.report_samples(
        samples,
        {"triples_per_s": last["digest"]["edges"]["n"], "pages_per_s": n_base},
    )
    run.notes["counts"] = {k: last["digest"][k]["n"] for k in ("episodes", "nodes", "edges", "mentions")}
    if run.trace:
        _trace_ingest(run, last, base_pages)


def _trace_ingest(run: Run, last: dict, base_pages) -> None:
    """Ingest the fresh 10% delta into the last ingested state, bucket its
    jobs into the sequential phase windows its ``timings`` report, measure
    what it wrote, and check the equivalence contract: the post-delta state
    equals ``run_pipeline(base + delta)``."""
    from graphiti_spark.plans.incremental import run_pipeline_incremental
    from graphiti_spark.plans.pipeline import run_pipeline

    spark = run.spark
    state = last["state"]
    delta_pages = spark.read.parquet(os.path.join(run.inputs, "delta_pages"))
    existing = last["digest"]["nodes"]["n"]
    before = _files(state)
    with run.operation():
        e0 = time.time()
        stats = run_pipeline_incremental(spark, delta_pages, state)
        e1 = time.time()
        after = _files(state)
        run.log("delta ingested")
        run.group("check")
        post = _state_digest(run, state, "delta")
        full = run_pipeline(spark, base_pages.unionByName(delta_pages))
        ref = graph_digest(
            {"episodes": full["episodes_raw"], "nodes": full["nodes"], "edges": full["edges"],
             "mentions": full["mentions"]}
        )
        run.check(ref["digest"] == post["digest"], "delta: post-delta state equals run_pipeline(base + delta)")
        check_pinned(run, "delta", post["digest"])
        run.group(None)

    fold, fold_s = run.fold_eventlog()
    t = e0
    for phase in INC_PHASES:
        wall = float(stats["timings"].get(phase, 0.0))
        # the last window runs to the call's return: timings are rounded
        b = fold.window(t, e1 if phase == INC_PHASES[-1] else t + wall)
        t += wall
        run.layer[f"inc.{phase}.wall_s"] = wall
        run.layer[f"inc.{phase}.jobs"] = b.jobs
        run.layer[f"inc.{phase}.tasks"] = b.tasks
        run.layer[f"inc.{phase}.executor_cpu_s"] = b.executor_cpu_s
    delta = fold.window(e0, e1)
    written = [p for p, v in after.items() if before.get(p) != v]
    run.layer.update(
        {
            "inc.changed_entities": stats["changed_entities"],
            "inc.affected_clusters": stats["affected_clusters"],
            "inc.scope_ratio": stats["affected_existing_clusters"] / max(existing, 1),
            "inc.rebuilt_edge_partitions": stats["rebuilt_edge_partitions"],
            "inc.rows_upserted": stats["nodes_upserted"] + stats["edges_upserted"],
            "sinks.bytes_written_mb": sum(after[p][2] for p in written) / 2**20,
            "sinks.files_written": len(written),
            "inc.shuffle_write_mb": delta.shuffle_write_mb,
            "inc.spill_mb": delta.spill_mb,
            "inc.gc_s": delta.gc_s,
            "trace.overhead_s": fold_s,
        }
    )
    report_udf(run, fold.window(last["e0"], last["e1"]))
    run.notes["delta_stats"] = stats


WORKLOADS = {"build_dense": build_dense, "ingest_state": ingest_state}
