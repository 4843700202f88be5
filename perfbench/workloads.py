"""The three perfbench workloads: their job lists and their untimed
output verification. BENCHMARK.json lists query_mix and
corpus_curation; etl_files runs by hand (settings.json says why).

A workload is built once per measured process. ``jobs()`` returns the
job list of one pass as ``(name, callable)`` pairs; the harness runs them in
order, one at a time (a closed loop with one client). ``verify()`` runs
after timing and returns ``(checked, [(job, reason), ...])``.

Layer modules are always reached through their module attribute
(``readers.read``, not a copied name), so the tracer's wrappers see
every call.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    def __init__(self, spark, inputs: str, seed: int, work: str, tracer):
        self.spark, self.inputs, self.seed = spark, inputs, seed
        self.work, self.tracer = work, tracer
        with open(os.path.join(inputs, "truth.json")) as f:
            self.truth = json.load(f)

    def sink(self, df, action=_noop):
        """The job's final action; a writer called as the action keeps
        its own ``io.writers`` span inside this one."""
        with self.tracer.span("spark.exec"):
            return action(df)


# ---------------------------------------------------------------- query_mix


class QueryMix(Workload):
    """Relational/analytics registry queries on the sf0.01 tables, each
    to a noop sink; the seed sets the run order.

    One query per family (TPC-H, joins, windows, pivots, casts,
    analytics, profile, graph, spatial): the first of the family in
    ``queries()`` order whose warm run takes under 1 s (settings.json
    records the probe), plus ``check_constraints``, the one registry
    query on ``quality``, and ``infer_types_orders``, the one on
    ``typetools`` that reads these tables."""

    QUERIES = [
        "q1_pricing", "join_inner", "window_running", "pivot_returnflag",
        "cast_currency_int", "cohort_weekly", "profile_orders",
        "graph_degrees", "spatial_radius_join", "check_constraints",
        "infer_types_orders",
    ]

    def __init__(self, *a):
        super().__init__(*a)
        import __spark_entry__ as entry

        self.qs = entry.queries()
        self.last = {}  # name -> the frame the last pass ran
        self.order = list(self.QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def _build(self, name):
        with self.tracer.span("registry"):
            return self.qs[name](self.spark, self.inputs)

    def _run(self, name):
        self.last[name] = df = self._build(name)
        self.sink(df)

    def jobs(self):
        return [(n, lambda n=n: self._run(n)) for n in self.order]

    def verify(self):
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import oracle_check

        import __spark_entry__ as entry

        oracle_check.STRICT_TYPES = True
        oracles = entry.oracle_sql()  # DuckDB twins + the sf0.01 VALUES pins
        con = duckdb.connect()
        try:
            for t in self.truth["rows"]:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.inputs}/{t}.parquet/*.parquet'")
            bad = []
            for name in self.order:
                try:
                    got = oracle_check.frame_hash(
                        self.last[name].toPandas())
                    want = oracle_check.frame_hash(con.sql(oracles[name]).df())
                except Exception as e:  # noqa: BLE001 - recorded, not raised
                    bad.append((name, _reason(e)))
                    continue
                if got != want:
                    bad.append((name, f"frame hash mismatch: spark={got} "
                                      f"duckdb={want}"))
        finally:
            con.close()
        return len(self.order), bad


# ---------------------------------------------------------------- etl_files

STEPS = ["fillempty", "unique", "group", "pivot"]


class EtlFiles(Workload):
    """Each file: read -> detect_types -> type_cast -> one process step
    (cycling through ``STEPS``) -> one writer (file i uses settings.json
    ``writers[i % 3]``: CSV, JSON, parquet)."""

    def __init__(self, *a):
        super().__init__(*a)
        from gen import SETTINGS
        from meza_spark import convert, process, typetools
        from meza_spark.io import readers, writers

        self.m = dict(readers=readers, writers=writers, typetools=typetools,
                      convert=convert, process=process)
        self.files = self.truth["files"]
        self.writers = SETTINGS["workloads"]["etl_files"]["writers"]
        self.out = os.path.join(self.work, "etl_out")
        self.last = {}  # file index -> (typed frame, detected types)

    def _typed(self, f):
        m = self.m
        df = m["readers"].read(self.spark, os.path.join(self.inputs,
                                                        f["file"]))
        df, res = m["typetools"].detect_types(df)
        return m["convert"].type_cast(df, res["types"]), res["types"]

    def _step(self, i, typed):
        from gen import CATEGORIES

        p = self.m["process"]
        step = STEPS[i % len(STEPS)]
        if step == "fillempty":
            return p.fillempty(typed, value=0, fields=["qty"])
        if step == "unique":
            return p.unique(typed, fields=["category", "active"])
        if step == "group":
            return p.group(typed, "category",
                           aggs={"total": ("amount", "sum"),
                                 "n": ("id", "count")})
        return p.pivot(typed, rows=["active"], column="category", data="qty",
                       op="sum", values=CATEGORIES)

    def _out_path(self, i):
        kind = self.writers[i % len(self.writers)]
        return kind, os.path.join(self.out, f"{i:02d}.{kind}")

    def _run(self, i, f):
        self.last[i] = typed, _ = self._typed(f)
        w, (kind, path) = self.m["writers"], self._out_path(i)
        write = {"csv": w.records2csv, "json": w.records2json,
                 "parquet": lambda df, p: w.write(df, p, fmt="parquet")}[kind]
        self.sink(self._step(i, typed), lambda df: write(df, path))

    def jobs(self):
        return [(f["file"], lambda i=i, f=f: self._run(i, f))
                for i, f in enumerate(self.files)]

    def verify(self):
        from functools import reduce

        from gen import TYPES

        bad, typed = [], {}
        for i, f in enumerate(self.files):
            try:
                df, types = self.last[i]
                got = {t["id"]: t["type"] for t in types}
                why = (f"detected types {got}" if got != TYPES else
                       _etl_output_mismatch(STEPS[i % len(STEPS)],
                                            _read_output(*self._out_path(i)),
                                            f["truth"]))
                if why is None:
                    typed[f["file"]] = (df, f["truth"])
            except Exception as e:  # noqa: BLE001 - recorded, not raised
                why = _reason(e)
            if why:
                bad.append((f["file"], why))
        if typed:
            # ids are unique across files: one job collects every file
            union = reduce(lambda a, b: a.unionByName(b),
                           [df for df, _ in typed.values()])
            got = union.collect()
            rows = {r["id"]: r.asDict() for r in got}
            want = sum(len(truth) for _, truth in typed.values())
            if len(got) != want:
                bad.append(("typed rows", f"{len(got)} rows, expected {want}"))
            for name, (_, truth) in typed.items():
                why = _etl_rows_mismatch(
                    [rows.get(t["id"], {}) for t in truth], truth)
                if why:
                    bad.append((name, why))
        return len(self.files), bad


def _etl_rows_mismatch(rows, truth) -> str | None:
    for got, want in zip(rows, truth):
        if not got:
            return f"id {want['id']} missing"
        for k, v in want.items():
            g = got[k]
            if k == "when":
                g = g.isoformat() if g is not None else None
            if k == "amount":
                ok = g is not None and abs(g - v) < 1e-6
            else:
                ok = g == v
            if not ok:
                return f"id {want['id']} column {k}: {g!r} != {v!r}"
    return None


def _read_output(kind: str, path: str):
    import pandas as pd

    if kind == "parquet":
        return pd.read_parquet(path)
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if kind == "csv":
        return pd.concat([pd.read_csv(p) for p in parts if os.path.getsize(p)])
    return pd.concat([pd.read_json(p, lines=True) for p in parts
                      if os.path.getsize(p)])


def _etl_output_mismatch(step, df, truth) -> str | None:
    from gen import CATEGORIES

    if step == "fillempty":
        got = (len(df), int(df["qty"].sum()))
        want = (len(truth), sum(r["qty"] or 0 for r in truth))
    elif step == "unique":
        got = len(df)
        want = len({(r["category"], r["active"]) for r in truth})
    elif step == "group":
        got = {r["category"]: (round(r["total"], 2), int(r["n"]))
               for r in df.to_dict("records")}
        want = {}
        for r in truth:
            t, n = want.get(r["category"], (0.0, 0))
            want[r["category"]] = (t + r["amount"], n + 1)
        want = {c: (round(t, 2), n) for c, (t, n) in want.items()}
    else:
        got = {(str(r["active"]).lower(), c): (None if _isnan(r.get(c))
                                              else int(r[c]))
               for r in df.to_dict("records") for c in CATEGORIES}
        sums = {}
        for r in truth:
            key = (str(r["active"]).lower(), r["category"])
            if r["qty"] is not None:
                sums[key] = (sums.get(key) or 0) + r["qty"]
            else:
                sums.setdefault(key, None)
        actives = {str(r["active"]).lower() for r in truth}
        want = {(a, c): sums.get((a, c)) for a in actives for c in CATEGORIES}
    if got != want:
        return f"{step} output differs from ground truth"
    return None


def _isnan(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


# ---------------------------------------------------------- corpus_curation


def _norm(text: str | None) -> str:
    return " ".join((text or "").split())


class CorpusCuration(Workload):
    """Raw WARC/documents/WebDataset corpus -> extraction -> quality
    filters -> exact and near dedup -> decontamination -> packed
    shards. Every stage writes its output, as a curation run does."""

    STAGES = ["extract_text", "wds_images", "curate", "pack_shards"]

    def __init__(self, *a):
        super().__init__(*a)
        from meza_spark.io import readers, warc, webdataset, writers
        from meza_spark.llm import (cluster, decontam, dedup, doctext,
                                    htmltext, multimodal, sampling, text)

        self.m = dict(readers=readers, warc=warc, webdataset=webdataset,
                      writers=writers, cluster=cluster, decontam=decontam,
                      dedup=dedup, doctext=doctext, htmltext=htmltext,
                      multimodal=multimodal, sampling=sampling, text=text)
        self.out = os.path.join(self.work, "cc_out")
        self.bench = self.spark.createDataFrame(
            list(enumerate(self.truth["benchmark"])),
            "doc_id long, text string")

    def _path(self, stage):
        return os.path.join(self.out, stage)

    def _save(self, df, stage):
        self.sink(df, lambda df: self.m["writers"].write(
            df, self._path(stage), fmt="parquet"))

    def _load(self, stage):
        return self.spark.read.parquet(self._path(stage))

    def extract_text(self):
        """Pages from the WARC through htmltext, documents through
        read_media and doctext, written as one text set."""
        from pyspark.sql import functions as F

        m = self.m
        pages = m["warc"].read_warc(self.spark,
                                    os.path.join(self.inputs, "warc"))
        pages = pages.select(
            F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
            .alias("doc_id"), F.decode("payload", "UTF-8").alias("html"))
        html = m["htmltext"].extract_text(pages, "html")
        media = m["readers"].read_media(self.spark,
                                        os.path.join(self.inputs, "docs"))
        media = media.select(F.regexp_extract("path", r"/(\d+)\.", 1)
                             .cast("long").alias("media_id"), "payload")
        docs = m["doctext"].document_text(media)
        self._save(html.select("doc_id", F.col("page.text").alias("text"))
                   .unionByName(docs.select(F.col("media_id").alias("doc_id"),
                                            "text")), "extract_text")

    def wds_images(self):
        from pyspark.sql import functions as F

        m = self.m
        wds = m["webdataset"].read_webdataset(
            self.spark, os.path.join(self.inputs, "wds"))
        wds = wds.select(F.col("key").cast("long").alias("media_id"),
                         F.element_at("data", "png").alias("payload"))
        self._save(m["multimodal"].decode_image(wds), "wds_images")

    def curate(self):
        """Quality filters -> exact dedup -> near dedup -> decontam."""
        from pyspark.sql import functions as F

        m = self.m
        kept = (m["text"].gopher_filter(self._load("extract_text"))
                .where(F.col("gopher_keep")))
        scored = m["text"].quality_score(kept.select("doc_id", "text"))
        exact = m["dedup"].exact_dedup(scored.select("doc_id", "text",
                                                     "quality"))
        near = m["cluster"].near_dedup(exact, method="minhash")
        clean = m["decontam"].decontaminate(near, self.bench, n=8,
                                            mode="remove")
        self._save(clean, "curate")

    def pack_shards(self):
        from pyspark.sql import functions as F

        m = self.m
        clean = self._load("curate").withColumn("n_chars", F.length("text"))
        packed = m["sampling"].pack_shards(clean, "n_chars", budget=4000,
                                           order_by="doc_id")
        dest = self._path("shards")
        shutil.rmtree(dest, ignore_errors=True)
        manifest = m["webdataset"].write_webdataset_shards(
            packed.select(F.format_string("%08d", "doc_id").alias("key"),
                          "text"), dest, "key", {"txt": "text"}, n_shards=4)
        self.manifest = self.sink(manifest, lambda df: df.collect())

    def jobs(self):
        return [(s, getattr(self, s)) for s in self.STAGES]

    def verify(self):
        import pyarrow.parquet as pq

        tr = self.truth
        texts = {int(k): v for k, v in tr["texts"].items()}
        kind = {int(k): v for k, v in tr["kind"].items()}

        def ids(stage):
            return set(pq.read_table(self._path(stage),
                                     columns=["doc_id"])["doc_id"].to_pylist())

        def check(stage):
            if stage == "extract_text":
                rows = pq.read_table(self._path(stage)).to_pylist()
                want = tr["page_ids"] + tr["doc_ids"]
                got = {r["doc_id"]: _norm(r["text"]) for r in rows}
                if sorted(got) != sorted(want):
                    return f"{len(got)} documents, expected {len(want)}"
                for i in want:
                    if got[i] != _norm(texts[i]):
                        return f"doc {i}: extracted text differs from source"
            elif stage == "wds_images":
                rows = pq.read_table(self._path(stage)).to_pylist()
                want = tr["images"]
                got = {f"{r['media_id']:06d}": r for r in rows}
                if sorted(got) != sorted(want):
                    return f"{len(got)} images, expected {len(want)}"
                for key, w in want.items():
                    g = got[key]
                    if ((g["width"], g["height"], g["channels"])
                            != (w["width"], w["height"], w["channels"])
                            or abs(g["mean_pixel"] - w["mean_pixel"]) > 1e-9):
                        return f"image {key}: decoded stats differ"
            elif stage == "curate":
                got, want = ids(stage), _curated_ids(tr)
                if got != want:
                    extra = sorted(kind[i] for i in got - want)
                    missing = sorted(kind[i] for i in want - got)
                    return ("survivors differ from the planted sets: "
                            f"extra {extra}, missing {missing}")
            elif stage == "pack_shards":
                n = sum(r["n_samples"] for r in self.manifest)
                if n != len(ids("curate")):
                    return f"{n} packed samples, expected {len(ids('curate'))}"
            return None

        bad = []
        for stage in self.STAGES:
            try:
                why = check(stage)
            except Exception as e:  # noqa: BLE001 - recorded, not raised
                why = _reason(e)
            if why:
                bad.append((stage, why))
        return len(self.STAGES), bad


def _curated_ids(tr) -> set[int]:
    """Expected survivors of ``curate`` from the planted sets: drop the
    low-quality docs, keep the smallest id per exact text, then the
    smallest id per planted near-duplicate cluster, then drop the
    contaminated docs."""
    texts = {int(k): v for k, v in tr["texts"].items()}
    kind = {int(k): v for k, v in tr["kind"].items()}
    rep = {}
    for i in sorted(i for i in texts if kind[i] != "low_quality"):
        rep.setdefault(texts[i], i)
    kept = set(rep.values())
    parent = {i: i for i in kept}

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    for dup, src in tr["near_dup_of"].items():
        a, b = rep[texts[int(dup)]], rep[texts[src]]
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i for i in kept if find(i) == i and kind[i] != "contaminated"}


def _reason(e: BaseException) -> str:
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0][:200] if lines else ''}"


WORKLOADS = {"etl_files": EtlFiles, "query_mix": QueryMix,
             "corpus_curation": CorpusCuration}
