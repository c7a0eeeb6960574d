"""Output checks for the benchmark workloads (pure Python, no Spark).

Every check returns a list of problems. An operation whose output has any
problem, or that raised, counts as failed; ``Tally`` keeps the counts that
become ``attempted``, ``failed`` and ``failed_frac``.
"""

from __future__ import annotations

import json
import math
import os
import statistics

# id and grid constants of sources/synthetic.py's synthetic_osm_frames
REL_BASE = 2_000_000_000
AREA_TOL = 1e-9
HOLE_AREA = 0.05**2


class Tally:
    """Operations attempted and failed; keeps the first few problems."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[: max(0, 10 - len(self.problems))])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ------------------------------------------------------------- osm_convert


def signed_area(ring: list[list[float]]) -> float:
    """Shoelace area of a closed ring; positive when counter-clockwise."""
    s = 0.0
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        s += x0 * y1 - x1 * y0
    return s / 2.0


def synthetic_relation_shape(n: int, dx: float, dy: float):
    """Closed-form outer box (x0, y0, x1, y1) and area of relation ``n`` of
    the synthetic corpus, translated by (dx, dy)."""
    x0 = (n % 890) * 0.4 - 178.0 + dx
    y0 = ((n // 890) % 390) * 0.45 - 88.0 + dy
    wd = 0.2 + (n % 3) * 0.05
    ht = 0.2 + (n % 5) * 0.02
    area = wd * ht - (HOLE_AREA if n % 2 == 0 else 0.0)
    return (x0, y0, x0 + wd, y0 + ht), area


def check_relation_feature(feat: dict, n: int, dx: float, dy: float) -> list[str]:
    """One converted synthetic relation: a MultiPolygon with one polygon,
    a hole for even ``n``, the closed-form area and box, exterior CCW and
    holes CW (the rules of tests/test_osm_scale.py)."""
    geom = feat.get("geometry") or {}
    if geom.get("type") != "MultiPolygon" or len(geom.get("coordinates", [])) != 1:
        return [f"relation {n}: not a one-polygon MultiPolygon"]
    rings = geom["coordinates"][0]
    if len(rings) != (2 if n % 2 == 0 else 1):
        return [f"relation {n}: {len(rings)} rings"]
    box, want = synthetic_relation_shape(n, dx, dy)
    problems = []
    outer = signed_area(rings[0])
    holes = [signed_area(r) for r in rings[1:]]
    if outer <= 0 or any(h >= 0 for h in holes):
        problems.append(f"relation {n}: ring orientation")
    if abs(abs(outer) - sum(abs(h) for h in holes) - want) > AREA_TOL:
        problems.append(f"relation {n}: area")
    xs = [p[0] for p in rings[0]]
    ys = [p[1] for p in rings[0]]
    got_box = (min(xs), min(ys), max(xs), max(ys))
    if any(abs(a - b) > AREA_TOL for a, b in zip(got_box, box)):
        problems.append(f"relation {n}: outer box")
    return problems


def check_osm_convert(
    features: list[dict],
    n_rel: int,
    id_offset: int,
    dx: float,
    dy: float,
    bad_failures: int,
) -> list[str]:
    """The corpus conversion: exactly one feature per relation, no failure
    other than ``unsupported_type``, and every feature's geometry right."""
    problems = []
    if bad_failures:
        problems.append(f"{bad_failures} conversion failures")
    if len(features) != n_rel:
        problems.append(f"{len(features)} features, expected {n_rel}")
    seen = set()
    for feat in features:
        props = feat.get("properties") or {}
        n = props.get("id", -1) - REL_BASE - id_offset
        if props.get("type") != "relation" or not 0 <= n < n_rel or n in seen:
            problems.append(f"unexpected feature {props.get('type')} {props.get('id')}")
            continue
        seen.add(n)
        problems.extend(check_relation_feature(feat, n, dx, dy))
        if len(problems) > 10:
            break
    return problems


def read_feature_lines(out_dir: str) -> list[dict]:
    """Every Feature line written under a write_geojson_lines directory."""
    feats = []
    for dirpath, _, files in os.walk(out_dir):
        for name in sorted(files):
            if name.startswith("part-"):
                with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                    feats.extend(json.loads(ln) for ln in fh if ln.strip())
    return feats


# ---------------------------------------------------------------- tile_job


def check_tile_batches(
    batch_ids: list[str],
    committed: set[str],
    got: dict[str, int],
    expected: dict[str, int],
) -> dict[str, list[str]]:
    """Per batch: committed, and its summed ``n_images`` equal to the
    independent rectangle-filter count of its coarse cell."""
    out = {}
    for bid in batch_ids:
        problems = []
        if bid not in committed:
            problems.append(f"batch {bid} not committed")
        if got.get(bid, 0) != expected.get(bid, 0):
            problems.append(
                f"batch {bid}: {got.get(bid, 0)} images, expected {expected.get(bid, 0)}"
            )
        out[bid] = problems
    return out


# ---------------------------------------------------------------- summaries


def percentile_summary(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (nearest-rank), and the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs)}
    if n >= 11:
        pct = math.floor(100 * (n - 10) / n)
        out["tail_pct"] = pct
        out["tail"] = xs[max(0, math.ceil(pct / 100 * n) - 1)]
    return out
