"""The workloads: inputs, the op sequence of one pass, and how each op
runs. A pass is the unit of work: the benchmark measures whole passes, so
every run of a workload measures the same op mix.

``BENCHMARK.json`` lists etl-star and corpus-dedup. text-score-x10 runs
the same way from the command line but is not in that list: with it, the
benchmark's runs would not fit their time budget (see README.md).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

#: the reads that follow each slice's load, in pass order (one list per
#: arrival slice of the 100k-row event log); STAR reads the star the
#: loads built so far, FLAGSHIP the relational tables. Reads outnumber
#: loads, as in a periodic ETL, so the median op is a star read
ETL_READS = [["STAR", "STAR", "STAR", "STAR", "FLAGSHIP"], ["STAR"] * 4]
ETL_SLICES = len(ETL_READS)
#: the ops' cost is mostly per-job overhead: at 2,000 docs they take about
#: as long, and the DuckDB oracles in the check three times as long
CORPUS_DOCS = 1000
CORPUS_OPS = ["DEDUP-PRUNE", "DEDUP-NGRAM", "PIPE-DOCS"]
TEXT_BASE_DOCS = 300
TEXT_FACTOR = 10
TEXT_OPS = ["CLS-ROUTE", "LM-SCORE", "TEXT-LANGID", "TEXT-GOPHER", "BPE-ENCODE"]

#: the etl CLI's wide surface over an event row, and its NOT NULL columns
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
REQUIRED = ["key", "reviewer_name", "project_name"]


@dataclass
class Op:
    name: str
    kind: str  # "load" (etl-star slice drain) or "read" (build + action)
    #: load: the slice it drains; STAR: the last slice loaded before it
    slice: int = -1


@dataclass
class Workload:
    name: str
    why: str
    data_sub: str
    #: nominal wall time of one warm pass on a 4-core host; a window of
    #: ``--seconds`` runs round(seconds / pass_s) passes (at least one)
    pass_s: float
    ops: list[Op] = field(default_factory=list)
    gen_kwargs: dict = field(default_factory=dict)


def _etl_pass() -> list[Op]:
    ops: list[Op] = []
    for i, reads in enumerate(ETL_READS):
        ops.append(Op("LOAD", "load", i))
        ops += [Op(name, "read", i if name == "STAR" else -1) for name in reads]
    return ops


WORKLOADS = {
    "etl-star": Workload(
        "etl-star",
        "periodic ETL: slice loads through the denormalizing sink interleaved "
        "with star and relational reads; planning and scheduling bound",
        "etl",
        13.5,
        _etl_pass(),
        {"n_slices": ETL_SLICES},
    ),
    "corpus-dedup": Workload(
        "corpus-dedup",
        "near-dup pipelines whose wall is mostly construction-time jobs, "
        "persisted stages and shuffles",
        "corpus",
        7.5,
        [Op(n, "read") for n in CORPUS_OPS],
        {"corpus_docs": CORPUS_DOCS},
    ),
    "text-score-x10": Workload(
        "text-score-x10",
        "per-doc scoring and tokenizing over a x10 salted corpus; executor "
        "and Python-worker compute bound",
        "text",
        10.0,
        [Op(n, "read") for n in TEXT_OPS],
        {"text_base_docs": TEXT_BASE_DOCS, "text_factor": TEXT_FACTOR},
    ),
}


def star_read(spark, star_root: str):
    """The v_feasibility-shaped read over the star: fact joined to the
    role-played user dim twice and to the project dim, all broadcast, as
    ``plans.feasibility_view.idiomatic_view`` joins them."""
    from pyspark.sql import functions as F

    fact = spark.read.parquet(os.path.join(star_root, "fact"))
    users = spark.read.parquet(os.path.join(star_root, "jira_user"))
    projects = spark.read.parquet(os.path.join(star_root, "project"))
    reviewer = users.select(F.col("id").alias("_rv"), F.col("username").alias("reviewer_name"))
    reporter = users.select(F.col("id").alias("_rp"), F.col("username").alias("reporter_name"))
    proj = projects.select(F.col("id").alias("_pj"), F.col("name").alias("project_name"))
    return (
        fact.join(F.broadcast(reviewer), fact["fk_reviewer"] == F.col("_rv"), "left")
        .join(F.broadcast(reporter), fact["fk_reporter"] == F.col("_rp"), "left")
        .join(F.broadcast(proj), fact["fk_project"] == F.col("_pj"), "left")
        .select("key", "ts", "value", "reviewer_name", "reporter_name", "project_name")
    )


def etl_specs():
    from feasibility_etl_spark.writer.denormalized import DimSpec

    return [
        DimSpec(
            name="jira_user",
            natural_key="username",
            roles={"reviewer_name": "fk_reviewer", "reporter_name": "fk_reporter"},
        ),
        DimSpec(name="project", natural_key="name", roles={"project_name": "fk_project"}),
    ]


def wide_stream(spark, stream_dir: str):
    """The etl CLI's wide surface over the arriving event files."""
    from pyspark.sql import functions as F

    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(stream_dir)
        .select(
            F.col("event_id").alias("key"),
            F.concat(F.lit("user_"), F.col("user_id") % 500).alias("reviewer_name"),
            F.concat(F.lit("user_"), F.col("user_id") % 499).alias("reporter_name"),
            F.upper("event_type").alias("project_name"),
            "ts",
            "value",
        )
    )


class EtlState:
    """Paths of the star one pass builds; ``reset`` empties them so every
    pass drains the same slices into an empty star."""

    def __init__(self, work: str, slices_dir: str) -> None:
        self.slices_dir = slices_dir
        self.star = os.path.join(work, "star")
        self.ckpt = os.path.join(work, "ckpt")
        self.stream_in = os.path.join(work, "stream_in")

    def reset(self) -> None:
        for p in (self.star, self.ckpt, self.stream_in):
            shutil.rmtree(p, ignore_errors=True)
        os.makedirs(self.stream_in)

    def slice_path(self, i: int) -> str:
        return os.path.join(self.slices_dir, f"slice_{i:02d}.parquet")

    def arrive(self, i: int) -> None:
        shutil.copy(self.slice_path(i), os.path.join(self.stream_in, f"slice_{i:02d}.parquet"))
