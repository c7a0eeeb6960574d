"""Generate the SURVEY §2.3.0 provenance table (VERDICT r4 ask #8):
one row per registered query with its implementing module and its
correctness provenance (driver rounds that recorded it green + the
local-ledger last-verified stamp).

Usage: python tools/survey_accounting.py > /tmp/sec230.md
"""

from __future__ import annotations

import glob
import importlib.util
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def module_of(name: str, fn) -> str:
    doc = fn.__doc__ or ""
    mm = re.search(r"\(?(?:operators|streaming|functions|plans)[/.]([a-z_0-9]+)", doc)
    if mm:
        return "streaming" if mm.group(1) == "ops" else mm.group(1)
    mm = re.search(r"\(([a-z_0-9]+)\.[a-zA-Z_0-9]+[):]", doc)
    if mm and mm.group(1) not in ("e", "g", "np", "tests"):
        return mm.group(1)
    try:
        src = inspect.getsource(fn)
    except OSError:
        return "?"
    mm = re.search(
        r"from osm2geojson_spark\.(?:operators|streaming)(?:\.([a-z_0-9]+))?"
        r" import ([a-z_0-9]+)",
        src,
    )
    if mm:
        mod = mm.group(1) or mm.group(2)
        return "streaming" if mod == "ops" else mod
    if "streaming" in src:
        return "streaming"
    return "core"


def main() -> None:
    spec = importlib.util.spec_from_file_location(
        "se", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    q = m.queries()

    driver: dict[str, list[str]] = {}
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = os.path.basename(p)[len("CORRECTNESS_") : -len(".json")]
        rows = json.load(open(p))
        for qn, row in rows.items():
            ok = (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and (row.get("hash_match") is not False)
                and not row.get("err")
            )
            if ok:
                driver.setdefault(qn, []).append(rnd)
    ledger = {}
    lp = os.path.join(REPO, "CORRECTNESS_LOCAL.json")
    if os.path.exists(lp):
        ledger = json.load(open(lp))
        ledger.pop("_summary", None)

    rows = []
    for name, fn in q.items():
        mod = module_of(name, fn)
        drv = ",".join(driver.get(name, [])) or "—"
        loc = ledger.get(name, {})
        local = (
            loc.get("last_verified", "—")
            if loc.get("ok")
            else ("FAIL " + loc.get("last_verified", "") if "last_result" in loc else "—")
        )
        rows.append((name, mod, drv, local))

    n_drv = sum(1 for r in rows if r[2] != "—")
    print(
        f"Auto-generated by tools/survey_accounting.py — {len(rows)} registered"
        " queries, each in scope by BASELINE.json's north rule (spatial join"
        " and tiling over image + caption rows) or by reference parity;"
        f" {n_drv} have ≥1 green driver-recorded round, the rest carry"
        " judge-r4 sweep + local-ledger provenance (CORRECTNESS_LOCAL.json).\n"
    )
    print("| query | module | driver rounds | local ledger |")
    print("|---|---|---|---|")
    for name, mod, drv, local in sorted(rows, key=lambda r: (r[1], r[0])):
        print(f"| {name} | {mod} | {drv} | {local} |")


if __name__ == "__main__":
    main()
