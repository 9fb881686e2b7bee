"""The workloads of the benchmark (BENCHMARK.json names the ones the
benchmark of record runs; perfbench/METRICS.md says why).

Each workload makes its inputs from the seed (untimed), builds what its
operations read (timed as set-up), warms up, and then hands out an endless
stream of operations. An operation (op) is one timed call into the program;
its check runs afterwards, outside the timed window.

* ``star_dashboard`` -- the read path: the 22 dashboard queries (G1-G22)
  on a star lake built by ``operators.pipeline.run``, each collected and
  compared with DuckDB's answer on the same lake.
* ``monthly_ingest`` -- the write path: one ``operators.pipeline.run`` of
  a monthly batch per op, overwriting the workload's lake; star-table row
  counts must equal the generator's.
* ``monthly_transform`` -- the same batches through bronze, silver, gold
  and the date dimensions, forced without writing the lake; the same
  row counts must come out.
* ``corpus_dedup`` -- the text/self-join/Python-worker path: a refresh of
  the maintained dedup index (``plans.dedup_index``) plus the SimHash
  near-pair query, whose pandas UDF runs in Python workers.
"""

from __future__ import annotations

import os
import random
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import gen
import oracle
from tracing import Tracer

PKG = "building_an_azure_data_lake_for_bikeshare_data_analytics_spark"


@dataclass
class Op:
    label: str
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Scale:
    bikeshare: gen.BikeshareScale
    documents: int


SCALES = {
    "full": Scale(gen.BikeshareScale(), 200),
    # a few seconds per workload: for checking the benchmark itself
    "tiny": Scale(gen.BikeshareScale(trips=3_000, payments=1_300, riders=100, stations=50), 200),
}


def _noop(df) -> None:
    """Force every row and column of ``df`` without writing output."""
    df.write.format("noop").mode("overwrite").save()


def _parquet_files(path: str) -> list[str]:
    files = []
    for root, _dirs, names in os.walk(path):
        files.extend(os.path.join(root, n) for n in names
                     if n.endswith(".parquet") and not n.startswith((".", "_")))
    return files


def _lake_stats(lake: str, tables) -> tuple[dict[str, int], int, int]:
    """Rows per table (from parquet footers), file count and bytes."""
    import pyarrow.parquet as pq

    rows, n_files, n_bytes = {}, 0, 0
    for t in tables:
        files = _parquet_files(os.path.join(lake, t))
        rows[t] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        n_files += len(files)
        n_bytes += sum(os.path.getsize(f) for f in files)
    return rows, n_files, n_bytes


STAR_TABLES = ("trips", "payments", "riders", "stations", "trip_dates", "payment_dates")


def pipeline_layers(spark, csv_dir: str) -> dict[str, float]:
    """Self time of each pipeline stage on one raw directory: force
    ``bronze`` -> ``silver`` -> ``gold`` -> ``date_dims`` in turn with noop
    writes and subtract the upstream time each stage re-pays."""
    from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import pipeline

    def force(frames: dict) -> dict[str, float]:
        out = {}
        for name, df in frames.items():
            t = time.perf_counter()
            _noop(df)
            out[name] = time.perf_counter() - t
        return out

    raw = pipeline.bronze(spark, csv_dir)
    t_bronze = sum(force(raw).values())
    tables = pipeline.silver(raw)
    t_silver = sum(force(tables).values())
    gold = pipeline.gold(tables)
    t_gold = force(gold)
    t = time.perf_counter()
    _ = force(pipeline.date_dims(spark, gold))
    t_dims = time.perf_counter() - t
    return {
        "sources.readers.csv_scan_s": t_bronze,
        "functions.schema.silver_s": max(0.0, t_silver - t_bronze),
        "operators.pipeline.gold_s": max(0.0, sum(t_gold.values()) - t_silver),
        # the dims probe the gold facts again
        "operators.dates.dims_s": max(0.0, t_dims - t_gold["trips"] - t_gold["payments"]),
    }


@dataclass
class Workload:
    """Common shape; subclasses fill in the four steps."""

    work: str
    seed: int
    scale: Scale
    tracer: Tracer
    spark: object = None
    #: a timed window ends on a multiple of this many ops
    round_size: int = 1
    #: untimed ops run before the first timed one
    warmup_ops: int = 1
    layer: dict[str, float] = field(default_factory=dict)
    #: checks of ops run outside the timed windows (a traced run's probes)
    probe_checks: list[bool] = field(default_factory=list)

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Set-up work the program does before serving ops (timed)."""

    def after_prepare(self) -> None:
        """Benchmark-side preparation of checks (untimed)."""

    def ops(self) -> Iterator[Op]:
        raise NotImplementedError

    def warmup(self) -> Iterator[Op]:
        it = self.ops()
        return (next(it) for _ in range(self.warmup_ops))

    def traced_layers(self, latencies: list[tuple[str, float]]) -> dict[str, float]:
        """Per-layer numbers of the traced window (workload-specific)."""
        return {}


class StarDashboard(Workload):
    def generate(self) -> None:
        self.raw = gen.generate_bikeshare(os.path.join(self.work, "raw"), self.seed, self.scale.bikeshare)
        self.lake = os.path.join(self.work, "lake")
        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.bikeshare import ALL_G_QUERIES

        self.queries = ALL_G_QUERIES
        # a round runs every query once; warm-up is one round
        self.round_size = self.warmup_ops = len(ALL_G_QUERIES)

    def prepare(self) -> None:
        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import pipeline

        self.star = pipeline.run(self.spark, self.raw.full_dir, self.lake)

    def after_prepare(self) -> None:
        self.want = oracle.expected(self.lake)
        if self.tracer.enabled:
            _rows, files, size = _lake_stats(self.lake, STAR_TABLES)
            self.layer.update({
                "sources.writers.write_s": self.tracer.total("sources.writers.write"),
                "sources.writers.files_per_op": files,
                "sources.writers.bytes_per_input_byte": size / self.raw.input_bytes,
            })

    def ops(self) -> Iterator[Op]:
        rng = random.Random(self.seed)
        names = sorted(self.queries)
        while True:
            rng.shuffle(names)
            for name in names:
                yield Op(name, self._query(name), lambda rows, n=name: oracle.matches(n, rows, self.want[n]))

    def _query(self, name: str) -> Callable[[], list]:
        fn, tr = self.queries[name], self.tracer

        def run():
            with tr.span("plans.bikeshare.build"):
                df = fn(self.star)
            with tr.span("plans.bikeshare.collect"):
                return df.collect()
        return run

    def traced_layers(self, latencies):
        import statistics

        n = max(1, len(latencies))
        fanout = {"g21_member_spend_and_rides_per_month", "g22_member_spend_duration_per_minutes_month"}
        agg = [t for name, t in latencies if name not in fanout]
        fan = [t for name, t in latencies if name in fanout]
        out = {
            "plans.bikeshare.build_s": self.tracer.total("plans.bikeshare.build") / n,
            "plans.bikeshare.collect_s": self.tracer.total("plans.bikeshare.collect") / n,
            "plans.bikeshare.agg_op_p50_s": statistics.median(agg) if agg else 0.0,
            "plans.bikeshare.fanout_op_p50_s": statistics.median(fan) if fan else 0.0,
        }
        out.update(pipeline_layers(self.spark, self.raw.full_dir))
        return out


class MonthlyIngest(Workload):
    def generate(self) -> None:
        self.raw = gen.generate_bikeshare(os.path.join(self.work, "raw"), self.seed, self.scale.bikeshare)
        self.lake = os.path.join(self.work, "lake")
        self.files: list[int] = []
        self.ratio: list[float] = []
        # one op is a few seconds; the median of four is much steadier
        self.round_size = 4

    def ops(self) -> Iterator[Op]:
        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import pipeline

        m = 0
        while True:
            d, want, size = self.raw.month_dirs[m], self.raw.month_rows[m], self.raw.month_bytes[m]
            yield Op(
                os.path.basename(d),
                lambda d=d: pipeline.run(self.spark, d, self.lake),
                lambda _res, want=want, size=size: self._check(want, size),
            )
            m = (m + 1) % gen.N_MONTHS

    def _check(self, want: dict[str, int], input_bytes: int) -> bool:
        rows, files, size = _lake_stats(self.lake, STAR_TABLES)
        self.files.append(files)
        self.ratio.append(size / input_bytes)
        return rows == want

    def traced_layers(self, latencies):
        n = max(1, len(latencies))
        # the last len(latencies) checks belong to the traced window
        files, ratio = self.files[-n:], self.ratio[-n:]
        out = {
            "sources.writers.write_s": self.tracer.total("sources.writers.write") / n,
            "sources.writers.files_per_op": sum(files) / len(files),
            "sources.writers.bytes_per_input_byte": sum(ratio) / len(ratio),
        }
        out.update(pipeline_layers(self.spark, self.raw.month_dirs[0]))
        return out


class MonthlyTransform(MonthlyIngest):
    """The ingest path up to the star tables, without the lake writes:
    bronze -> silver -> gold -> date_dims of one monthly batch, each table
    forced with a noop write."""

    def ops(self) -> Iterator[Op]:
        m = 0
        while True:
            d, want = self.raw.month_dirs[m], self.raw.month_rows[m]
            yield Op(
                os.path.basename(d),
                lambda d=d: self._transform(d),
                lambda frames, want=want: {t: df.count() for t, df in frames.items()} == want,
            )
            m = (m + 1) % gen.N_MONTHS

    def _transform(self, csv_dir: str) -> dict:
        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import pipeline

        gold = pipeline.gold(pipeline.silver(pipeline.bronze(self.spark, csv_dir)))
        frames = {**gold, **pipeline.date_dims(self.spark, gold)}
        for df in frames.values():
            _noop(df)
        return frames

    def traced_layers(self, latencies):
        out = pipeline_layers(self.spark, self.raw.month_dirs[0])
        out.update(self._dedup_probe())
        return out

    def _dedup_probe(self) -> dict[str, float]:
        """Layers of the dedup index, which no workload of BENCHMARK.json
        times end to end: an untraced refresh of the seed's corpus to warm
        it up, then a traced one, both checked."""
        dedup = CorpusDedup(self.work, self.seed, self.scale, self.tracer, spark=self.spark)
        dedup.generate()
        op = next(dedup.ops())
        self.tracer.enabled = False
        self.probe_checks.append(op.check(op.run()))
        self.tracer.enabled = True
        t = time.perf_counter()
        op.run()
        latency = time.perf_counter() - t
        self.probe_checks.append(op.check(None))
        return dedup.traced_layers([(op.label, latency)])


DEDUP_STEPS = (
    ("plans.dedup_index.ppjoin", "dup_pairs"),
    ("plans.dedup_index.components", "dup_components"),
    ("plans.dedup_index.lsh", "dup_pairs_lsh"),
    ("plans.dedup_index.signatures", "corpus_signatures"),
)


class CorpusDedup(Workload):
    def generate(self) -> None:
        self.sf = gen.generate_documents(os.path.join(self.work, "docs"), self.seed, self.scale.documents)
        self.first: tuple[int, int] | None = None
        self.pairs, self.recall = 0, 0.0

    def ops(self) -> Iterator[Op]:
        while True:
            yield Op("refresh", self._refresh, self._check)

    def _refresh(self) -> None:
        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans import dedup_index
        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

        dedup_index.clear_index_cache(self.spark)
        for span, fn in DEDUP_STEPS:
            with self.tracer.span(span):
                _noop(getattr(dedup_index, fn)(self.spark, self.sf))
        with self.tracer.span("operators.dedup.simhash"):
            _noop(QUERIES["q53_simhash_near_pairs"](self.spark, self.sf))

    def _check(self, _res) -> bool:
        from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans import dedup_index

        def pairs(df):
            return {(r[0], r[1]) for r in df.select("doc_a", "doc_b").collect()}

        exact = pairs(dedup_index.dup_pairs(self.spark, self.sf))
        lsh = pairs(dedup_index.dup_pairs_lsh(self.spark, self.sf))
        comps = {r[0] for r in dedup_index.dup_components(self.spark, self.sf).select("comp").collect()}
        counts = (len(exact), len(comps))
        if self.first is None:
            self.first = counts
        self.pairs = len(exact)
        self.recall = len(lsh & exact) / len(exact) if exact else 0.0
        return counts == self.first and lsh <= exact and len(exact) > 0

    def traced_layers(self, latencies):
        n = max(1, len(latencies))
        out = {f"{span}_s": self.tracer.total(span) / n for span, _ in DEDUP_STEPS}
        out["operators.dedup.simhash_s"] = self.tracer.total("operators.dedup.simhash") / n
        out["plans.dedup_index.pairs"] = self.pairs
        out["plans.dedup_index.lsh_recall"] = self.recall
        return out


WORKLOADS: dict[str, type[Workload]] = {
    "star_dashboard": StarDashboard,
    "monthly_ingest": MonthlyIngest,
    "monthly_transform": MonthlyTransform,
    "corpus_dedup": CorpusDedup,
}
