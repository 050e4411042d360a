"""The benchmark's workloads and their correctness checks.

Inputs come from ``synth.generate_corpus(pages, seed)``: page texts are
unique apart from the generator's ~7.5% re-crawl duplicates, so no cache of
repeated pages can flatter a number (section texts do repeat; each result
reports the distinct share). The pages are written to parquet during
set-up and read back as the pages table.

ner_scan        pages -> fused NER UDF -> per-doc term sets -> exploded
                terms + expand_pairs/salted_count pair counts -> noop sink.
                The Python/Arrow and salted-aggregation layers do the work.
kg_build_serve  pipeline.build_kg (modular default, cue_triples, no side
                inputs), build_kg again over the committed stages, then a
                closed loop of one client against KgApi over that KG.
                Assembly, closure, lineage and query serving do the work.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import time
from statistics import median

from .corpus import CorpusWriter

NER_SCAN_PAGES = 16_000
NER_SCAN_CHUNKS = 4
KG_PAGES = 3_000
SETUP_REPS = 3  # ner_scan set-ups; kg_build_serve times KG_INITS KgApi inits
KG_INITS = 3
WARMUP_PASSES = 4
MIN_PASSES = 9
MIN_CYCLES = 1
ORACLE_SAMPLE = 300
# one closed-loop cycle: search 50%, text_relations and autocomplete 25%
REQUEST_CYCLE = ["search", "search", "text_relations", "autocomplete"]


class Failures:
    """Counts wrong answers; keeps the first few messages for stderr."""

    def __init__(self):
        self.count = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.count += 1
            if len(self.messages) < 20:
                self.messages.append(what)


def start_inputs(workload: str, seed: int, work: str) -> CorpusWriter:
    """Start writing the workload's input corpus (no Spark needed)."""
    n, chunks = {"ner_scan": (NER_SCAN_PAGES, NER_SCAN_CHUNKS),
                 "kg_build_serve": (KG_PAGES, 1)}[workload]
    return CorpusWriter(n, seed, chunks, os.path.join(work, "pages"))


# ---- ner_scan ---------------------------------------------------------------

def _scan_relations(pages, udf):
    """The north-rule relation: per-doc term sets, exploded terms and the
    salted pair counts (the same plan as the repo's frozen bench, fused
    path). Returns (persisted sets, terms, counted)."""
    from pyspark.sql import functions as F

    from outbreak_kg_spark import skew

    x = pages.select("url", udf(F.col("text")).alias("x")).filter(
        F.col("x.valid"))
    sets = x.select(
        F.col("url").alias("doc_id"),
        F.sort_array(F.expr(
            "transform(x.terms, t -> struct(t.entry_name as entry_name, "
            "concat(t.ns, ':', t.id) as curie))")).alias("_arr"),
    ).persist()
    terms = sets.select("doc_id", F.explode("_arr").alias("t")).select(
        "doc_id", "t.entry_name", "t.curie")
    counted = skew.salted_count(
        skew.expand_pairs(sets, ["entry_name", "curie"],
                          carry_cols=["doc_id"]),
        ["a_entry_name", "a_curie", "b_entry_name", "b_curie"],
        salt=32, count_col="n_docs", salt_from=F.col("doc_id"),
    )
    return sets, terms, counted


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def ner_scan(ctx) -> dict:
    from outbreak_kg_spark import fused, skew, synth
    from outbreak_kg_spark.schemas import PAGES

    spark, tr, fails = ctx.spark, ctx.tracer, ctx.failures
    corpus, ctx.info["input"] = ctx.inputs.wait()
    files = ctx.inputs.files("part")
    ctx.mark("inputs")
    gaz = synth.gazetteer_df(spark)

    tr.wrap(fused, "make_fused_udf", "fused.make_fused_udf")
    tr.wrap(skew, "expand_pairs", "skew.expand_pairs")
    tr.wrap(skew, "salted_count", "skew.salted_count")

    setups, udf_s = [], []
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        pages = spark.read.schema(PAGES).parquet(*files)
        t1 = time.monotonic()
        udf = fused.make_fused_udf(spark, gaz)
        udf_s.append(time.monotonic() - t1)
        setups.append(time.monotonic() - t0)
    n_pages = len(corpus)
    ctx.mark("setup")

    def one_pass(traced: bool):
        tr.enabled = traced
        t0 = time.monotonic()
        with tr.span("ner_scan.pass"):
            sets, terms, counted = _scan_relations(pages, udf)
            with tr.span("sink.terms"):
                _noop(terms)
            with tr.span("sink.pairs"):
                _noop(counted)
        return time.monotonic() - t0, sets, counted

    tracing = tr.enabled
    # warm-up: starts the Python workers and fills the JIT; not timed
    for _ in range(WARMUP_PASSES):
        _w, sets, _c = one_pass(False)
        sets.unpersist()
    ctx.mark("warm-up")
    passes = {True: [], False: []}
    t_end = time.monotonic() + ctx.seconds
    i = 0
    while True:
        # a traced run alternates traced and untraced passes, so the
        # tracing overhead is measured inside one process
        traced = tracing and i % 2 == 0
        wall, sets, counted = one_pass(traced)
        passes[traced].append(wall)
        i += 1
        if time.monotonic() >= t_end and i >= MIN_PASSES * (1 + tracing):
            break
        sets.unpersist()
    tr.enabled = tracing
    ctx.attempted += i
    ctx.mark("measure")
    pair_rows = _check_ner_scan(corpus, sets, counted, ctx.seed, fails)
    sets.unpersist()
    ctx.mark("check")

    walls = passes[tracing]
    res = {
        "docs_per_s": n_pages / median(walls),
        "setup_s": median(setups),
    }
    ctx.info.update(passes=len(walls), pages=n_pages,
                    pass_s=[round(w, 4) for w in walls])
    if tracing:
        res["layers"] = _ner_scan_layers(ctx, passes, udf_s, pair_rows)
    return res


def _check_ner_scan(pages, sets, counted, seed, fails) -> int:
    """Term sets of a seeded page sample against the oracle; every pair
    count against a recount of the collected term sets. Returns the
    number of pair rows the pair expansion produced."""
    from outbreak_kg_spark import synth
    from tests.oracle import reference_impl as oracle

    got = {r["doc_id"]: [(t["entry_name"], t["curie"]) for t in r["_arr"]]
           for r in sets.toArrow().to_pylist()}
    gaz_rows = synth.gazetteer_rows()
    for p in random.Random(seed).sample(pages, ORACLE_SAMPLE):
        ex = oracle.oracle_extract(p["text"])
        if ex is None:
            fails.check(p["url"] not in got, f"invalid page kept {p['url']}")
            continue
        want = set()
        for title, content in ex["sections"]:
            for field in (title, content):
                for _surf, ns, id_, name in oracle.oracle_annotate(
                        field, gaz_rows):
                    want.add((name, f"{ns}:{id_}"))
        fails.check(set(got.get(p["url"], ())) == want,
                    f"term set differs for {p['url']}")
    recount: dict = {}
    pair_rows = 0
    for arr in got.values():
        for a, b in itertools.combinations(arr, 2):
            key = (*a, *b)
            recount[key] = recount.get(key, 0) + 1
            pair_rows += 1
    counts = {(r.a_entry_name, r.a_curie, r.b_entry_name, r.b_curie):
              r.n_docs for r in counted.collect()}
    fails.check(counts == recount, "pair counts differ from the recount")
    return pair_rows


def _ner_scan_layers(ctx, passes, udf_s, pair_rows) -> dict:
    from .tracing import SparkMetrics

    tr = ctx.tracer
    pass_spans = [s["id"] for s in tr.find("ner_scan.pass")]
    n = len(pass_spans)
    in_passes = [x for sid in pass_spans for x in tr.subtree(sid)]
    t0 = time.monotonic()
    sm = SparkMetrics(ctx.spark, in_passes)
    ctx.info["status_store_read_s"] = round(time.monotonic() - t0, 2)
    pair_spans = [s["id"] for s in tr.find("sink.pairs")]
    pairs = sm.stage_totals(pair_spans, skew=True)
    traced, plain = median(passes[True]), median(passes[False])
    return {
        "fused.make_udf_s": median(udf_s),
        "fused.py_run_s": sm.node_metric(
            in_passes, "time to run Python workers") / n,
        "fused.py_boot_s": (
            sm.node_metric(in_passes, "time to start Python workers")
            + sm.node_metric(in_passes,
                             "time to initialize Python workers")) / n,
        "fused.arrow_out_mb": sm.node_metric(
            in_passes, "data sent to Python workers") / 1e6 / n,
        "fused.arrow_in_mb": sm.node_metric(
            in_passes, "data returned from Python workers") / 1e6 / n,
        "skew.pair_rows": pair_rows,
        "skew.shuffle_write_mb": pairs["shuffle_write_b"] / 1e6 / n,
        "skew.task_skew": pairs["task_skew"],
        "trace.overhead_pct": (traced - plain) / plain * 100,
        **_spark_layers(sm),
    }


# ---- kg_build_serve ---------------------------------------------------------

_STAGE_LAYER = {
    "extracted": "extract", "alerts": "extract",
    "mentions": "ground", "terms": "ground",
    "closure": "closure", "pattern_triples": "triples",
    "nodes": "builders.nodes", "edges": "builders.edges",
}


def _kg_side_inputs(spark):
    """build_kg's keyword inputs other than the corpus tables. The optional
    side inputs (pathogen, phenotype, indicator and geoname tables) stay
    out: they add about 25 s to every cold build on a 4-core host."""
    from outbreak_kg_spark import synth

    return dict(gazetteer=synth.gazetteer_df(spark),
                vocab_isa=synth.vocab_isa_df(spark), cue_triples=True)


def _wrap_kg_layers(tr) -> None:
    from outbreak_kg_spark import (api, builders, closure, extract, ground,
                                   lineage, pipeline, triples)

    tr.wrap(pipeline, "build_kg", "pipeline.build_kg")
    # build_kg imported run_stage by name: wrap the binding it calls
    tr.wrap(pipeline, "run_stage", "lineage.run_stage",
            detail=lambda a, kw: a[2])
    tr.wrap(lineage, "read_lineage", "lineage.read_lineage")
    for name in ("build_outbreaks", "build_alert_nodes_and_mentions",
                 "build_cooccurrence", "build_vocab_hierarchy",
                 "finalize_graph"):
        tr.wrap(builders, name, f"builders.{name}")
    tr.wrap(closure, "closure_with_roots", "closure.closure_with_roots")
    for name in ("extract_pages", "dedup_alerts", "explode_section_texts"):
        tr.wrap(extract, name, f"extract.{name}")
    for name in ("type_dim", "make_annotate_udf", "annotate_sections",
                 "terms_by_alert"):
        tr.wrap(ground, name, f"ground.{name}")
    for name in ("mentions_to_sentences", "pattern_triples_grouped"):
        tr.wrap(triples, name, f"triples.{name}")
    for name in ("search", "text_relations", "autocomplete"):
        tr.wrap(api.KgApi, name, f"api.{name}")
    tr.wrap(api.KgApi, "__init__", "api.init")


def kg_build_serve(ctx) -> dict:
    from outbreak_kg_spark import api, lineage, pipeline

    spark, tr, fails = ctx.spark, ctx.tracer, ctx.failures
    kw = _kg_side_inputs(spark)  # while the corpus is being written
    pages, ctx.info["input"] = ctx.inputs.wait()
    kw.update(pages=spark.read.parquet(*ctx.inputs.files("part")),
              outbreaks=spark.read.parquet(*ctx.inputs.files("outbreaks")))
    root = os.path.join(ctx.work, "kg")
    _wrap_kg_layers(tr)
    ctx.mark("inputs")

    t0 = time.monotonic()
    out = pipeline.build_kg(spark, root, **kw)
    build_s = time.monotonic() - t0
    t0 = time.monotonic()
    with tr.span("resume"):
        out = pipeline.build_kg(spark, root, **kw)
    resume_s = time.monotonic() - t0
    ctx.attempted += 2
    ctx.mark("build")

    lin = [r.asDict() for r in lineage.read_lineage(spark, root).collect()]
    runs = {}
    for r in lin:
        runs.setdefault(r["stage"], set()).add(r["run_id"])
    fails.check(set(runs) == set(_STAGE_LAYER)
                and all(len(v) == 1 for v in runs.values()),
                f"resume re-ran a stage: {sorted(runs.items())}")

    inits = []
    for _ in range(KG_INITS):
        t0 = time.monotonic()
        app = api.KgApi(spark, out["nodes"], out["edges"], out["closure"],
                        kw["gazetteer"], extracted=out["extracted"],
                        pattern_triples=out["pattern_triples"])
        inits.append(time.monotonic() - t0)

    ctx.mark("setup")
    graph = _check_kg_build(pages, out, ctx.seed, fails)
    ctx.mark("check")
    lat = _serve(ctx, app, graph)
    ctx.mark("serve")

    all_lat = [x for v in lat.values() for x in v]
    res = {
        "docs_per_s": len(pages) / build_s,
        "setup_s": median(inits),
    }
    ctx.info.update(pages=len(pages), build_s=round(build_s, 3),
                    resume_s=round(resume_s, 3), requests=len(all_lat),
                    req_p50_ms=round(median(all_lat) * 1e3, 1),
                    req_per_s=round(len(all_lat) / sum(all_lat), 3),
                    req_p90_ms=round(statistics.quantiles(
                        all_lat, n=10)[-1] * 1e3, 1)
                    if len(all_lat) >= 2 else None)
    if tr.enabled:
        res["layers"] = _kg_layers(ctx, lin, build_s, resume_s, inits, lat)
    return res


def _types() -> dict:
    from outbreak_kg_spark import synth

    return {f"MESH:{i}": t for i, _n, t, _p, _s in synth.MESH_VOCAB} | {
        f"geonames:{g}": "geoloc" for g, _n, _p, _m in synth.GEONAME_VOCAB}


def _check_kg_build(pages, out, seed, fails) -> dict:
    """Terms and mention edges of a seeded alert sample against the oracle
    run on those alerts' pages; every co-occurrence edge against the
    oracle builder over the pipeline's terms. Returns the oracle graph the
    search answers are checked against."""
    from pyspark.sql import functions as F

    from outbreak_kg_spark import synth
    from outbreak_kg_spark.ground import (BUILD_EXCLUDE_NAMES,
                                          NER_EXCLUDE_TOKENS)
    from tests.oracle import reference_impl as oracle

    types = _types()
    terms: dict = {}
    for r in out["terms"].toArrow().to_pylist():
        terms.setdefault(r["doc_id"], []).append(
            (r["ns"], r["id"], r["entry_name"]))
    terms = {k: sorted(v) for k, v in terms.items()}

    by_archive: dict = {}
    for p in pages:
        ex = oracle.oracle_extract(p["text"])
        if ex is not None:
            by_archive.setdefault(ex["archive"], []).append(p)
    sample = random.Random(seed).sample(
        sorted(by_archive), min(ORACLE_SAMPLE, len(by_archive)))
    want_terms, _ = oracle.oracle_terms_by_alert(
        [p for a in sample for p in by_archive[a]],
        synth.gazetteer_rows(), NER_EXCLUDE_TOKENS)
    for a in sample:
        fails.check(terms.get(a, []) == want_terms.get(a, []),
                    f"terms differ for alert {a}")

    edges = out["edges"].filter(F.col("pred").isin("mentions", "occurs_with"))
    mentions, cooc = set(), {}
    for r in edges.select("subj", "pred", "obj", "count").collect():
        if r.pred == "mentions":
            mentions.add((r.subj, r.pred, r.obj))
        else:
            cooc[(r.subj, r.pred, r.obj)] = r["count"]
    in_sample = {f"promed:{a}" for a in sample}
    fails.check(
        {e for e in mentions if e[0] in in_sample}
        == oracle.oracle_mentions_edges(
            {a: want_terms.get(a, []) for a in sample}, types,
            BUILD_EXCLUDE_NAMES),
        "mention edges differ on the alert sample")
    fails.check(cooc == oracle.oracle_cooccurrence(
        terms, types, BUILD_EXCLUDE_NAMES), "co-occurrence edges differ")

    isa = [(f"MESH:{i}", f"MESH:{p}")
           for i, _n, _t, p, _s in synth.MESH_VOCAB if p]
    return {
        "types": types,
        "ancestors": oracle.oracle_closure(isa),
        "mentions": oracle.oracle_mentions_edges(
            terms, types, BUILD_EXCLUDE_NAMES),
    }


def _oracle_search(graph, anchors: dict) -> set:
    """Alerts with, for every (type, anchor curie), a mention of an entity
    of that type at or below the anchor in the isa closure."""
    hits = None
    for ntype, anchor in anchors.items():
        got = {
            s for s, _p, o in graph["mentions"]
            if graph["types"].get(o) == ntype
            and (o == anchor or anchor in graph["ancestors"].get(o, ()))
        }
        hits = got if hits is None else hits & got
    return hits or set()


def _requests(rng):
    """Endless seeded request stream; each cycle of five holds the fixed
    mix in a seeded order."""
    from outbreak_kg_spark import synth

    by_type: dict = {}
    for i, name, t, _p, _syns in synth.MESH_VOCAB:
        if name != "Disease":  # excluded from the graph by the builders
            by_type.setdefault(t, []).append((i, name))
    while True:
        cycle = list(REQUEST_CYCLE)
        rng.shuffle(cycle)
        for kind in cycle:
            if kind == "search":
                d = rng.choice(by_type["disease"])
                g = rng.choice(by_type["geoloc"])
                yield kind, {"disease": d[1], "geolocation": g[1]}, {
                    "disease": f"MESH:{d[0]}", "geoloc": f"MESH:{g[0]}"}
            elif kind == "text_relations":
                d, p = rng.choice(by_type["disease"]), rng.choice(
                    by_type["pathogen"])
                g1, g2 = rng.sample(by_type["geoloc"], 2)
                yield kind, {"text": f"{d[1]} cases caused by {p[1]} were "
                             f"reported in {g1[1]} and {g2[1]}"}, None
            else:
                label = rng.choice(["disease", "pathogen", "geoloc"])
                name = rng.choice(by_type[label])[1]
                yield kind, {"label": label,
                             "prefix": name[:rng.randint(1, 3)].lower()}, None


def _call(app, kind: str, args: dict):
    if kind == "search":
        return app.search(**args)
    if kind == "text_relations":
        return app.text_relations(**args)
    return app.autocomplete(**args)


def _answer_ok(graph, gaz_rows, kind, args, anchors, ans) -> bool:
    from tests.oracle import reference_impl as oracle

    if kind == "search":
        return {r["alert_curie"] for r in ans} == _oracle_search(
            graph, anchors)
    if kind == "text_relations":
        return {a["curie"] for a in ans["annotations"]} == {
            f"{ns}:{i}" for _s, ns, i, _n in
            oracle.oracle_annotate(args["text"], gaz_rows)}
    return len(ans) <= 100 and all(
        h[0].lower().startswith(args["prefix"]) for h in ans)


def _serve(ctx, app, graph) -> dict:
    """Closed loop, one client: the next request is sent when the previous
    answer is back. One untimed cycle compiles the query plans first;
    then whole cycles run until --seconds have passed and at least
    MIN_CYCLES were measured. Every answer is
    checked. Returns the measured latencies by request kind."""
    from outbreak_kg_spark import synth

    tr, fails = ctx.tracer, ctx.failures
    tracing = tr.enabled
    gaz_rows = synth.gazetteer_rows()
    lat: dict = {k: [] for k in REQUEST_CYCLE}
    ctx.info["untraced_req_s"] = []
    stream = _requests(random.Random(ctx.seed))
    per_cycle = len(REQUEST_CYCLE)
    # a traced run alternates traced and untraced cycles, so the tracing
    # overhead is measured inside one process
    step = 2 if tracing else 1
    n, t_end = -per_cycle, float("inf")
    while n < 0 or time.monotonic() < t_end \
            or n < per_cycle * MIN_CYCLES * step or n % (per_cycle * step):
        if n == 0:
            t_end = time.monotonic() + ctx.seconds
        kind, args, anchors = next(stream)
        traced = tracing and n >= 0 and (n // per_cycle) % 2 == 0
        tr.enabled = traced
        t0 = time.monotonic()
        try:
            with tr.span(f"request.{kind}"):
                ans = _call(app, kind, args)
            wall = time.monotonic() - t0
            fails.check(_answer_ok(graph, gaz_rows, kind, args, anchors, ans),
                        f"{kind}{args}: wrong answer")
        except Exception as e:  # a failed request is counted, not fatal
            fails.check(False, f"{kind}{args} raised {e!r}")
            wall = time.monotonic() - t0
        tr.enabled = tracing
        ctx.attempted += 1
        if n >= 0:
            if traced or not tracing:
                lat[kind].append(wall)
            else:
                ctx.info["untraced_req_s"].append(wall)
        n += 1
    ctx.info["req_ms"] = {k: [round(x * 1e3, 1) for x in v]
                          for k, v in lat.items()}
    return lat


def _kg_layers(ctx, lin, build_s, resume_s, inits, lat) -> dict:
    from .tracing import SparkMetrics

    tr = ctx.tracer
    build = tr.find("pipeline.build_kg")[0]
    by_stage = {tr.spans[sid]["name"].split(":", 1)[1]: sid
                for sid in tr.children().get(build["id"], [])
                if tr.spans[sid]["name"].startswith("lineage.run_stage:")}
    req_spans = [s["id"] for s in tr.spans
                 if s["name"].startswith("request.")]
    in_reqs = [x for sid in req_spans for x in tr.subtree(sid)]
    py_stages = ["extracted", "alerts", "mentions", "terms"]
    t0 = time.monotonic()
    sm = SparkMetrics(ctx.spark, in_reqs + [
        x for st in py_stages for x in tr.subtree(by_stage[st])])
    ctx.info["status_store_read_s"] = round(time.monotonic() - t0, 2)
    wall_ms: dict = {}
    for r in lin:
        wall_ms[r["stage"]] = r["wall_ms"]  # one value per stage run
    stage_s = {}
    for stage, layer in _STAGE_LAYER.items():
        stage_s[layer] = stage_s.get(layer, 0.0) + wall_ms[stage] / 1e3

    def py_run(stages):
        spans = [x for st in stages for x in tr.subtree(by_stage[st])]
        return sm.node_metric(spans, "time to run Python workers")

    selfs = tr.self_times()
    builder_s = sum(s["end"] - s["start"] for s in tr.spans
                    if s["name"].startswith("builders.")
                    and s["parent"] == build["id"])
    resume = tr.find("resume")[0]
    n_req = max(1, len(req_spans))
    traced = [x for v in lat.values() for x in v]
    plain = ctx.info["untraced_req_s"]
    return {
        "extract.stage_s": stage_s["extract"],
        "extract.py_run_s": py_run(["extracted", "alerts"]),
        "ground.stage_s": stage_s["ground"],
        "ground.py_run_s": py_run(["mentions", "terms"]),
        "triples.stage_s": stage_s["triples"],
        "closure.stage_s": stage_s["closure"],
        "closure.jobs": len(sm.jobs_in(tr.subtree(by_stage["closure"]))),
        "builders.call_s": builder_s,
        "builders.nodes_stage_s": stage_s["builders.nodes"],
        "builders.edges_stage_s": stage_s["builders.edges"],
        "lineage.outside_stages_s": build_s - sum(stage_s.values()),
        "lineage.written_mb": sum(r["bytes"] for r in lin) / 1e6,
        "lineage.resume_s": resume_s,
        "lineage.resume_jobs": len(sm.jobs_in(tr.subtree(resume["id"]))),
        "api.init_s": median(inits),
        "queries.search_p50_ms": median(lat["search"]) * 1e3,
        "queries.text_relations_p50_ms": median(lat["text_relations"]) * 1e3,
        "queries.autocomplete_p50_ms": median(lat["autocomplete"]) * 1e3,
        "queries.jobs_per_req": len(sm.jobs_in(in_reqs)) / n_req,
        "catalog.rows_scanned_per_req": sm.node_metric(
            in_reqs, "number of output rows", "Scan parquet") / n_req,
        # share of the build wall no wrapped call accounts for
        "trace.unattributed_share": selfs[build["id"]] / build_s,
        "trace.overhead_pct": (median(traced) - median(plain))
        / median(plain) * 100,
        **_spark_layers(sm),
    }


def _spark_layers(sm) -> dict:
    tot = sm.stage_totals()
    return {
        "spark.jobs": tot["jobs"],
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / 1e6,
        "spark.spill_mb": tot["spill_b"] / 1e6,
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.cpu_over_run": tot["cpu_s"] / tot["run_s"]
        if tot["run_s"] else 0.0,
    }
