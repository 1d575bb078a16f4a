"""Reference-free output guard for the drugs chain (``run_drugs_all``).

The chain runs on the inputs the benchmark's ``chain_prod`` workload
builds from ``perfbench/gen.py`` at seed 5: the parity corpus's dims
plus 128 synthetic generics, the dense Annex F and 1,674 seeded eSOA
texts. The sha256 of each output's sorted rows and of ``summary_md``,
the row counts and a few sample rows are compared with
``chain_snapshot_seed5.json``.

What this is: a regression guard against the engine's own state at its
last parity-verified commit. It is NOT parity evidence. Parity with the
reference is shown only by the live-reference differentials and fuzzers
(PARITY.md), which need the reference checkout. This test only says that
the chain's output did not move.

When a change is meant to move the output, regenerate the snapshot from
the repository root and say in the change why the output moved:

    python tests/test_chain_snapshot.py
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 5
FIXTURE = os.path.join(HERE, f"chain_snapshot_seed{SEED}.json")
SAMPLE_ROWS = 3


def _gen():
    """``perfbench/gen.py``, loaded from its file (it is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(ROOT, "perfbench", "gen.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses look their module up
    spec.loader.exec_module(mod)
    return mod


def chain_inputs(spark, seed: int) -> dict:
    """The ``run_drugs_all`` inputs, built as ``chain_prod`` builds them."""
    gen = _gen()
    inputs = {k: spark.createDataFrame(rows, schema)
              for k, (rows, schema) in gen.raw_dims().items()}
    inputs["annex_f"] = spark.createDataFrame(
        gen.annex_rows(), "drug_code string, drug_description string")
    inputs["esoa"] = spark.createDataFrame(
        [(t,) for t, _ in gen.esoa_corpus(seed)], "raw_text string")
    return inputs


def _sha256(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def snapshot(spark, seed: int = SEED) -> dict:
    """Row count, sha256 of the sorted row reprs and evenly spaced
    sample rows of each output, plus the sha256 of ``summary_md``."""
    from pids_drg_esoa_spark.pipelines.runner import run_drugs_all

    res = run_drugs_all(spark, chain_inputs(spark, seed))
    out = {}
    for name, df in (("annex_with_atc", res.annex_with_atc),
                     ("esoa_with_atc", res.esoa_with_atc),
                     ("esoa_with_drug_code", res.esoa_with_drug_code)):
        rows = sorted(repr(r) for r in df.collect())
        step = max(1, len(rows) // SAMPLE_ROWS)
        out[name] = {"rows": len(rows), "sha256": _sha256(rows),
                     "sample": rows[::step][:SAMPLE_ROWS]}
    out["summary_md"] = {"sha256": _sha256([res.summary_md])}
    return out


def test_chain_outputs_match_snapshot(spark):
    with open(FIXTURE) as f:
        want = json.load(f)
    got = snapshot(spark)
    assert sorted(got) == sorted(want)
    for name in want:
        # counts and samples first: they say what moved, the hash only that
        assert got[name].get("rows") == want[name].get("rows"), name
        assert got[name].get("sample") == want[name].get("sample"), name
        assert got[name]["sha256"] == want[name]["sha256"], name


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from pids_drg_esoa_spark.session import get_spark

    spark = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    with open(FIXTURE, "w") as f:
        json.dump(snapshot(spark), f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {FIXTURE}")
