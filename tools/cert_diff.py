#!/usr/bin/env python
"""Certification diff: mechanically check that the DRIVER's
correctness artifact and the repo's committed LOCAL sweep agree on
every query they both grade (VERDICT r3 #7 — turn the "local sweep
uses the driver's methodology" claim from an assertion into a check).

    python tools/cert_diff.py CORRECTNESS_r13.json CORRECTNESS_LOCAL_r13.json

For each query present in BOTH artifacts, asserts:
  * the pass bit matches (driver: rows/schema/hash all true; local:
    the recorded ``pass``),
  * the Spark row count matches.
Exit 0 with a summary line when everything agrees; exit 1 listing
every disagreement otherwise. Queries only one side grades are
reported as counts (that asymmetry is the documented certification
tiering, not an error).
"""

from __future__ import annotations

import json
import sys


def driver_rows(path: str) -> dict[str, tuple[bool, int | None]]:
    d = json.load(open(path))
    out = {}
    for name, r in d.items():
        ok = bool(
            r.get("rows_match")
            and r.get("schema_match")
            and r.get("hash_match")
            and not r.get("err")
        )
        out[name] = (ok, r.get("spark_rows"))
    return out


def local_rows(path: str) -> dict[str, tuple[bool, int | None]]:
    d = json.load(open(path))
    return {
        name: (bool(r.get("pass")), r.get("rows"))
        for name, r in d.get("queries", {}).items()
    }


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    drv = driver_rows(sys.argv[1])
    loc = local_rows(sys.argv[2])
    common = sorted(set(drv) & set(loc))
    bad = []
    for name in common:
        d_ok, d_n = drv[name]
        l_ok, l_n = loc[name]
        if d_ok != l_ok:
            bad.append(f"{name}: pass bit driver={d_ok} local={l_ok}")
        if d_n is not None and l_n is not None and d_n != l_n:
            bad.append(f"{name}: row count driver={d_n} local={l_n}")
    print(
        f"{len(common)} queries graded by both; "
        f"{len(drv) - len(common)} driver-only, {len(loc) - len(common)} local-only"
    )
    if bad:
        print(f"{len(bad)} DISAGREEMENTS:")
        for b in bad:
            print(" ", b)
        return 1
    print(f"agreement: {len(common)}/{len(common)} — pass bits and row counts identical")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
