"""Seeded generator for the input of the config-driven `JobRunner` job: the
`(region, product, sales)` fact table drawn from the run's `--seed`, split
into parquet files, plus one `config_<mode>.yaml` per job mode that points
the job at it.

Only numpy and pyarrow are used; the engine never sees this module, only the
parquet files and the YAML it writes. The corpus the `SparkEntry.queries`
keys read is not generated: it is the fixed test corpus in `data/`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JOB_FILES = 2


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def job_params(seed):
    """The seed fixes the job input: row count, group cardinality, product
    count, Zipf skew of product sales, top-N and where the input is split
    into its streaming files. Sizes vary only within narrow bands so that
    every seed costs about the same; the file count is fixed because each
    file is one micro-batch."""
    rng = np.random.default_rng([seed, 1])
    return {
        "rows": int(rng.integers(95_000, 105_001)),
        "groups": int(rng.integers(16, 33)),
        "products": int(rng.integers(800, 1_201)),
        "zipf": float(np.round(rng.uniform(1.1, 1.5), 3)),
        "top_n": int(rng.integers(3, 6)),
        "files": JOB_FILES,
    }


def write_job_input(work_dir, seed, modes):
    """Write the seeded `(region, product, sales)` input, split into
    `files` parquet files (one streaming micro-batch each), and one job YAML
    per mode in `modes`. Returns (params, input dir,
    {step name: (config path, output dir)})."""
    p = job_params(seed)
    rng = np.random.default_rng([seed, 2])
    n = p["rows"]
    # Zipf-ranked product popularity, so a few products dominate each group.
    weights = 1.0 / np.arange(1, p["products"] + 1) ** p["zipf"]
    weights /= weights.sum()
    product = rng.choice(p["products"], n, p=weights)
    table = pa.table({
        "region": [f"region_{g:02d}" for g in rng.integers(0, p["groups"], n)],
        "product": [f"product_{k:05d}" for k in product],
        "sales": _money(rng, 0.01, 999.99, n)})
    in_dir = os.path.join(work_dir, "job_input")
    os.makedirs(in_dir)
    cuts = np.sort(rng.uniform(0.2, 0.8, p["files"] - 1))
    bounds = [0] + [int(c * n) for c in cuts] + [n]
    for i in range(p["files"]):
        _write(in_dir, f"part-{i:03d}", table.slice(bounds[i], bounds[i + 1] - bounds[i]))
    jobs = {}
    for mode in modes:
        out_dir = os.path.join(work_dir, f"job_output_{mode}")
        cfg = os.path.join(work_dir, f"config_{mode}.yaml")
        with open(cfg, "w") as f:
            f.write(
                f"env: bench_{mode}\n"
                "input:\n"
                f"  path: {in_dir}\n"
                "output:\n"
                f"  path: {out_dir}\n"
                "processing:\n"
                "  group_by_column: region\n"
                "  target_metric: sales\n"
                f"  top_n: {p['top_n']}\n"
                f"  mode: {mode}\n")
        jobs[f"job_{mode}"] = (cfg, out_dir)
    return p, in_dir, jobs
