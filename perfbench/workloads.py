"""The benchmark's workloads: named lists of registered queries.

Every op is a query from ``aistore_spark.benchqueries.QUERIES`` run on
the fixed sf0.1 tier and collected to the driver. The lists are sized so
that a whole run, set-up included, stays near one minute on a 4-core
host; the reasons for each list are in ``perfbench/README.md``.
"""

from __future__ import annotations

import importlib.util
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: what runs leave behind: the oracle cache, span dumps, per-run temp dirs
WORK = ROOT / ".perfbench"


def load_tool(name: str):
    """``tools/<name>.py`` imported by path (``tools`` is no package)."""
    spec = importlib.util.spec_from_file_location(name, ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def sf_dir() -> str:
    """The read-only sf0.1 tier every workload reads, where the
    repository's scale-tier generators find it. The seed argument orders
    ops; it never changes the data."""
    return load_tool("gen_sf1").SRC


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    #: reads the on-disk ``_scale/io`` shard and media fixtures
    fixtures: bool = False
    #: ops that write to disk; their summed warm latency is the
    #: ``write_s`` diagnostic
    writes: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "catalog_ops",
            (
                "s1_list_prefix_page",
                "s2_props_name_size",
                "s5_virtual_dirs",
                "a1_bucket_summary",
                "f3_explicit_names",
                "f5_latest_version",
                "m1_copy_plan",
                "m5_lru_evict",
                "m11_lifecycle_tiering",
                "j2_ekm_route",
                "ds1_download_plan",
                "ds4_backend_plan",
                "ev5_asof_join",
                "m12_catalog_upsert",
                "g4_batch_loader",
            ),
            writes=("m12_catalog_upsert",),
        ),
        Workload(
            "curation_io",
            (
                "mm12_media_decode_io",
                "p4_archive_append",
                "ann9d_ivfpq_sqrt_cells",
                "dd10_substring_spans",
                "tx8_bigram_familiarity",
                "d3_seeded_shuffle",
                "t6_canned_sha256",
            ),
            fixtures=True,
        ),
    )
}
