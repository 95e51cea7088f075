"""Full-corpus fidelity audit: regenerate EVERY reference dataset CSV with
the engine's kernels and report bit-exactness.

The committed golden suite (tests/test_generation.py) pins a sample of
files per family; this walks all ~4300 CSVs under /root/reference/Datasets
and reports, per (family, n_vars, lag, noise) config, whether the kernel
reproduces the shipped data bit-for-bit — the definitive map of any
corpus/kernel divergence (e.g. configs whose shipped data predates the
reference's current equation registry).

Usage:
    python scripts/corpus_audit.py                 # all families, process-pooled (~2 min)
    python scripts/corpus_audit.py A1 C2           # just the named families
    python scripts/corpus_audit.py --sample 5      # every 5th file
    python scripts/corpus_audit.py --jobs 1        # serial (debugging)
    python scripts/corpus_audit.py --digests       # check every sweep grid config
                                                   # against tests/data/kernel_digests.csv
    python scripts/corpus_audit.py --digests --write   # regenerate that file

Driver-side pandas/numpy only — no Spark session. Comparison matches the
golden suite: exact equality for every cell, NaN == NaN (masked cells).

The digest mode needs no reference corpus: it pins the kernels' current
output (the output that last passed the full reference audit) as one
SHA-256 per grid config of the long-form frame the sweep queries emit.
"""

from __future__ import annotations

import csv
import hashlib
import os
import re
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from synth_timeseries_data_spark.generation import (  # noqa: E402
    generate_irregular_config,
    generate_linear_config,
    generate_mcar_config,
    generate_block_missing_config,
    generate_mixed_missing_config,
    generate_poly_config,
    generate_poly_mixture_config,
    generate_trend_season_config,
    generate_trig_irregular_config,
)
from synth_timeseries_data_spark.generation.kernel_confounded import (  # noqa: E402
    generate_confounded_block_missing_config,
    generate_confounded_irregular_config,
    generate_confounded_mcar_config,
    generate_confounded_mixed_missing_config,
    generate_confounded_poly_config,
    generate_confounded_poly_mixture_config,
    generate_confounded_trend_season_config,
    generate_confounded_trig_irregular_config,
)
from synth_timeseries_data_spark.generation import kernel as K  # noqa: E402

ROOT = "/root/reference/Datasets"

_NVL = re.compile(r"n(\d+)_vars(\d+)_lag(\d+)")


def _noise_of(path: str) -> str:
    p = path.lower()
    if "students t" in p or "student_t" in p or "_t_dist" in p or "_t." in p or "_t_with" in p:
        return "student_t"
    return "gaussian"


def _ratio_of(path: str) -> float | None:
    m = re.search(r"gaussian_(\d+)_laplace_\d+", path)
    return int(m.group(1)) / 100.0 if m else None


def _build(family: str, path: str):
    """Return (which, payload) for a corpus file; which is 'single',
    'missing' or 'complete'. For the D families the payload is the full
    (missing, complete) tuple — callers pick the side — so the worker cache
    can serve both files of a pair from one kernel run. Raises KeyError for
    unknown layouts."""
    m = _NVL.search(os.path.basename(path))
    if not m:
        raise KeyError("no n/vars/lag in name")
    n, v, lag = (int(x) for x in m.groups())
    noise = _noise_of(path)
    base = os.path.basename(path)
    which = (
        "missing"
        if base.endswith("_missing.csv")
        else "complete"
        if base.endswith("_complete.csv")
        else "single"
    )

    if family == "A1":
        return which, generate_linear_config(n, v, lag, noise, seed=42)
    if family == "A2":
        return which, generate_irregular_config(n, v, lag, noise, 42, ts_mode="linspace")
    if family == "B1":
        return which, generate_poly_config(n, v, lag, noise, seed=42)
    if family == "B2":
        return which, generate_poly_mixture_config(n, v, lag, _ratio_of(path), seed=42)
    if family == "C1":
        return which, generate_trend_season_config(n, v, lag, seed=42)
    if family == "C2":
        return which, generate_trig_irregular_config(n, v, lag, noise, seed=42)
    if family == "A1C":
        return which, K.generate_confounded_config(n, v, lag, noise, 42)
    if family == "A2C":
        return which, generate_confounded_irregular_config(n, v, lag, noise, seed=42)
    if family == "B1C":
        return which, generate_confounded_poly_config(n, v, lag, noise, seed=42)
    if family == "B2C":
        return which, generate_confounded_poly_mixture_config(
            n, v, lag, _ratio_of(path), seed=42
        )
    if family == "C1C":
        return which, generate_confounded_trend_season_config(n, v, lag, seed=42)
    if family == "C2C":
        return which, generate_confounded_trig_irregular_config(n, v, lag, noise, seed=42)

    def _pair(fn, *args, **kw):
        missing, complete = fn(*args, **kw)
        return (missing, complete)

    if family == "D1":
        p = int(re.search(r"mcar(\d+)", base).group(1)) / 100.0
        return which, _pair(generate_mcar_config, n, v, lag, noise, p, seed=42)
    if family == "D2":
        p = int(re.search(r"block(\d+)", base).group(1)) / 100.0
        return which, _pair(generate_block_missing_config, n, v, lag, noise, p, seed=42)
    if family == "D3":
        r = int(re.search(r"noise(\d+)", base).group(1)) / 100.0
        mc = int(re.search(r"mcar(\d+)", base).group(1)) / 100.0
        bl = int(re.search(r"block(\d+)", base).group(1)) / 100.0
        return which, _pair(generate_mixed_missing_config, n, v, lag, r, mc, bl, seed=42)
    if family == "D1C":
        p = int(re.search(r"mcar(\d+)", base).group(1)) / 100.0
        return which, _pair(generate_confounded_mcar_config, n, v, lag, noise, p, seed=42)
    if family == "D2C":
        p = int(re.search(r"block(\d+)", base).group(1)) / 100.0
        return which, _pair(
            generate_confounded_block_missing_config, n, v, lag, noise, p, seed=42
        )
    if family == "D3C":
        r = int(re.search(r"noise(\d+)", base).group(1)) / 100.0
        mc = int(re.search(r"mcar(\d+)", base).group(1)) / 100.0
        bl = int(re.search(r"block(\d+)", base).group(1)) / 100.0
        return which, _pair(
            generate_confounded_mixed_missing_config, n, v, lag, r, mc, bl, seed=42
        )
    raise KeyError(f"unknown family {family}")


def _compare(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    """None if bit-exact, else a short diff description."""
    if list(got.columns) != list(ref.columns):
        return f"columns {list(got.columns)} != {list(ref.columns)}"
    if len(got) != len(ref):
        return f"rows {len(got)} != {len(ref)}"
    for c in ref.columns:
        a, b = got[c].to_numpy(), ref[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a = np.asarray(a, dtype=np.float64)
            b = np.asarray(b, dtype=np.float64)
            eq = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            eq = a == b
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"{c}@{i}: got={a[i]!r} ref={b[i]!r}"
    return None


def _check_one(args):
    """(family, path) -> (family, status, detail). Worker-side; each worker
    keeps its own regeneration cache keyed by config (sizes differ per
    file, so the cache only helps the missing/complete pair). The key is
    deliberately which-independent: both files of a D-family pair map to the
    same entry, whose payload is the full (missing, complete) tuple — the
    side is picked at lookup, so the pair kernel runs once, not twice."""
    family, path = args
    f = os.path.basename(path)
    try:
        key_m = _NVL.search(f)
        ckey = (family, _noise_of(path), key_m.groups() if key_m else f,
                _ratio_of(path),
                tuple(re.findall(r"(mcar|block|noise)(\d+)", f)))
        payload = _WORKER_CACHE.get(ckey)
        if payload is None:
            _which, payload = _build(family, path)
            _WORKER_CACHE.clear()  # bounded: keep only the current config
            _WORKER_CACHE[ckey] = payload
        if isinstance(payload, tuple):
            got = payload[0] if f.endswith("_missing.csv") else payload[1]
        else:
            got = payload
        ref = pd.read_csv(path, float_precision="round_trip")
        diff = _compare(got, ref)
    except Exception as ex:  # noqa: BLE001
        return family, "error", (path.replace(ROOT, ""), f"ERROR {type(ex).__name__}: {ex}")
    if diff is None:
        return family, "exact", None
    return family, "diff", (path.replace(ROOT, ""), diff)


_WORKER_CACHE: dict = {}


DIGESTS_CSV = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "data", "kernel_digests.csv",
)


def frame_digest(df: pd.DataFrame) -> str:
    """SHA-256 of a frame's canonical bytes: each column's name and dtype,
    then its values — floats as little-endian IEEE bits (so -0.0 != 0.0
    and NaN payloads count), everything else as NUL-joined str()."""
    h = hashlib.sha256()
    for name in df.columns:
        col = df[name]
        h.update(f"{name}:{col.dtype}\n".encode())
        if col.dtype.kind == "f":
            h.update(col.to_numpy().astype("<f8").tobytes())
        else:
            h.update("\0".join(map(str, col.to_numpy())).encode())
    return h.hexdigest()


def kernel_digests() -> list[dict]:
    """One row per config of the generation grid, in grid order: the long-
    form frame the sweep emits for it (`generate_config`), as a row count
    and a `frame_digest`."""
    from synth_timeseries_data_spark.queries.generation import generate_config, grid

    out = []
    for row in grid():
        long = generate_config(row)
        out.append({"family": row[0], "config_id": row[1],
                    "rows": str(len(long)), "sha256": frame_digest(long)})
    return out


def read_digests() -> list[dict]:
    with open(DIGESTS_CSV, newline="") as f:
        return list(csv.DictReader(f))


def digest_mismatches(got: list[dict], want: list[dict]) -> list[str]:
    """Human-readable differences between two digest tables (empty = equal)."""
    key = lambda r: (r["family"], r["config_id"])  # noqa: E731
    g, w = {key(r): r for r in got}, {key(r): r for r in want}
    out = [f"missing from output: {k}" for k in w if k not in g]
    out += [f"not in goldens: {k}" for k in g if k not in w]
    for k in w:
        if k in g and (g[k]["rows"], g[k]["sha256"]) != (w[k]["rows"], w[k]["sha256"]):
            out.append(f"{k}: rows {g[k]['rows']} sha {g[k]['sha256'][:12]} "
                       f"!= golden rows {w[k]['rows']} sha {w[k]['sha256'][:12]}")
    return out


def digests_main(write: bool) -> int:
    got = kernel_digests()
    if write:
        os.makedirs(os.path.dirname(DIGESTS_CSV), exist_ok=True)
        with open(DIGESTS_CSV, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(got[0]), lineterminator="\n")
            w.writeheader()
            w.writerows(got)
        print(f"wrote {len(got)} config digests to {DIGESTS_CSV}")
        return 0
    bad = digest_mismatches(got, read_digests())
    for line in bad[:20]:
        print(line)
    print(f"{len(got)} configs, {len(bad)} mismatches")
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    if "--digests" in argv:
        return digests_main("--write" in argv)
    sample = 1
    jobs = os.cpu_count() or 1
    families: list[str] = []
    it = iter(argv)
    for a in it:
        if a == "--sample":
            sample = int(next(it))
        elif a == "--jobs":
            jobs = int(next(it))
        else:
            families.append(a)
    work: list[tuple[str, str]] = []
    seq = 0
    fams_seen = []
    for family in sorted(os.listdir(ROOT)):
        fdir = os.path.join(ROOT, family)
        if not os.path.isdir(fdir) or (families and family not in families):
            continue
        fams_seen.append(family)
        for dirpath, _dirs, files in os.walk(fdir):
            for f in sorted(files):
                if not f.endswith(".csv"):
                    continue
                seq += 1
                if (seq - 1) % sample:
                    continue
                work.append((family, os.path.join(dirpath, f)))
    results: dict[str, list[tuple[str, str]]] = {}
    counts: dict[str, list[int]] = {fam: [0, 0, 0] for fam in fams_seen}
    if jobs > 1:
        # kernels are pure numpy — process pool scales the sweep ~linearly
        from multiprocessing import Pool

        with Pool(jobs) as pool:
            it_res = pool.imap_unordered(_check_one, work, chunksize=8)
            outs = list(it_res)
    else:
        outs = [_check_one(w) for w in work]
    for family, status, detail in outs:
        idx = {"exact": 0, "diff": 1, "error": 2}[status]
        counts[family][idx] += 1
        if detail is not None:
            results.setdefault(family, []).append(detail)
    print("family  exact  diff  error")
    bad = 0
    for fam, (ok, d, e) in sorted(counts.items()):
        print(f"{fam:6s} {ok:6d} {d:5d} {e:6d}")
        bad += d + e
    for fam in sorted(results):
        print(f"\n== {fam} divergences (first 10):")
        for p, d in results[fam][:10]:
            print(f"  {p}\n    {d}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
