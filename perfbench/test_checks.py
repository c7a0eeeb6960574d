"""Each workload check, fed one wrong output, counts the operation failed.

    python3 -m pytest perfbench/test_checks.py -q

Needs no SparkSession: the checks read files and plain values.
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import workloads as W  # noqa: E402

N_REL, OFFSET, DX, DY = 6, 1234, 0.25, 0.5


def relation_feature(n: int) -> dict:
    """What the conversion writes for synthetic relation n."""
    (x0, y0, x1, y1), _ = checks.synthetic_relation_shape(n, DX, DY)
    rings = [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]
    if n % 2 == 0:
        a, b = 0.05, 0.1
        rings.append(
            [[x0 + a, y0 + a], [x0 + a, y0 + b], [x0 + b, y0 + b], [x0 + b, y0 + a], [x0 + a, y0 + a]]
        )
    return {
        "type": "Feature",
        "properties": {"type": "relation", "id": checks.REL_BASE + n + OFFSET},
        "geometry": {"type": "MultiPolygon", "coordinates": [rings]},
    }


def good_features() -> list[dict]:
    return [relation_feature(n) for n in range(N_REL)]


def _drop_one(f):
    return f[1:]


def _duplicate_id(f):
    f[1]["properties"]["id"] = f[0]["properties"]["id"]
    return f


def _reverse_outer(f):
    f[2]["geometry"]["coordinates"][0][0].reverse()
    return f


def _grow_box(f):
    ring = f[3]["geometry"]["coordinates"][0][0]
    ring[1][0] += 0.01
    ring[2][0] += 0.01
    return f


def _drop_hole(f):
    del f[0]["geometry"]["coordinates"][0][1]
    return f


def _node_feature(f):
    f[4]["properties"]["type"] = "node"
    return f


@pytest.mark.parametrize(
    "mutate", [_drop_one, _duplicate_id, _reverse_outer, _grow_box, _drop_hole, _node_feature]
)
def test_osm_convert_wrong_output_counts_failed(mutate):
    tally = checks.Tally()
    tally.record(checks.check_osm_convert(good_features(), N_REL, OFFSET, DX, DY, 0))
    bad = mutate(copy.deepcopy(good_features()))
    tally.record(checks.check_osm_convert(bad, N_REL, OFFSET, DX, DY, 0))
    assert (tally.attempted, tally.failed, tally.failed_frac) == (2, 1, 0.5)


def write_lines(out_dir: str, feats: list[dict]) -> None:
    part = os.path.join(out_dir, "doc_id=d")
    os.makedirs(part)
    with open(os.path.join(part, "part-00000.txt"), "w") as fh:
        fh.writelines(json.dumps(f) + "\n" for f in feats)


class _NoFailures:
    """Stands in for build_features' failures DataFrame."""

    def __init__(self, n: int) -> None:
        self.n = n

    def filter(self, _cond):
        return self

    def count(self) -> int:
        return self.n


def osm_workload() -> W.OsmConvert:
    wl = W.OsmConvert(seed=0)
    wl.N_REL, wl.id_offset, wl.dx, wl.dy = N_REL, OFFSET, DX, DY
    wl.bad_failures = None
    return wl


def test_osm_convert_check_reads_the_sink(tmp_path):
    wl, tally = osm_workload(), checks.Tally()
    write_lines(str(tmp_path / "ok"), good_features())
    wl.check(None, str(tmp_path / "ok"), _NoFailures(0), tally)
    write_lines(str(tmp_path / "short"), good_features()[:-1])
    wl.check(None, str(tmp_path / "short"), _NoFailures(0), tally)
    assert (tally.attempted, tally.failed) == (2, 1)


def test_osm_convert_conversion_failure_counts_failed(tmp_path):
    wl, tally = osm_workload(), checks.Tally()
    write_lines(str(tmp_path / "o"), good_features())
    wl.check(None, str(tmp_path / "o"), _NoFailures(1), tally)
    assert (tally.attempted, tally.failed) == (1, 1)


def test_tile_job_wrong_batches_count_failed():
    ids = ["a", "b", "c", "d"]
    expected = {"a": 10, "b": 0, "c": 7, "d": 3}
    tally = checks.Tally()
    got = dict(expected, c=6)  # one batch lost an image
    per_batch = checks.check_tile_batches(ids, {"a", "b", "c"}, got, expected)  # d never committed
    for bid in ids:
        tally.record(per_batch[bid])
    assert (tally.attempted, tally.failed) == (4, 2)
    assert not per_batch["a"] and not per_batch["b"]


def test_tile_job_check_with_nothing_committed(tmp_path):
    wl, tally = W.TileJob(seed=0), checks.Tally()
    wl.expected = {bid: 1 for bid in wl.batch_ids}
    wl.check(None, str(tmp_path / "tiles"), None, tally)
    assert (tally.attempted, tally.failed) == (wl.ops_per_call, wl.ops_per_call)


def test_document_differs_from_golden_counts_failed():
    wl, tally = W.DocumentTrace(os.path.dirname(HERE)), checks.Tally()
    wl.check(None, None, copy.deepcopy(wl.golden), tally)
    bad = copy.deepcopy(wl.golden)
    bad[0]["properties"]["id"] += 1
    wl.check(None, None, bad, tally)
    assert (tally.attempted, tally.failed) == (2, 1)


def test_percentile_summary_tail_needs_ten_beyond():
    assert "tail" not in checks.percentile_summary([1.0, 2.0, 3.0])
    s = checks.percentile_summary([float(i) for i in range(1, 21)])
    assert (s["n"], s["p50"], s["tail_pct"], s["tail"]) == (20, 10.5, 50, 10.0)
