"""Generate CORRECTNESS_MANIFEST.md (r4 VERDICT task 8): one line per
registry entry — gate position, oracle kind, and every driver-green round
so far — so a judge can audit coverage without replaying the registry.

Run after the end-of-round local replica: python scripts/gen_manifest.py
"""

from __future__ import annotations

import json
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]

GATE_SLOTS = 50  # the driver's correctness gate samples the first 50 entries


def registry_names() -> list[str]:
    src = (ROOT / "__spark_entry__.py").read_text()
    m = re.search(r"def queries\(\).*?return \{(.*?)\n    \}", src, re.S)
    return re.findall(r"\"([a-z0-9_]+)\":\s*q_", m.group(1))


def oracle_names() -> set[str]:
    src = (ROOT / "__spark_entry__.py").read_text()
    m = re.search(r"def oracle_sql\(\).*", src, re.S)
    names = set(re.findall(r'^        "([a-z0-9_]+)":', m.group(0), re.M))
    # composed entries are assigned after the literal dict:
    # oracles["name"] = f"""..."""
    names |= set(re.findall(r'oracles\["([a-z0-9_]+)"\] =', m.group(0)))
    return names


def green_history() -> dict[str, list[int]]:
    hist: dict[str, list[int]] = {}
    for path in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", path.name).group(1))
        d = json.load(open(path))
        for k, v in d.items():
            ok = (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") is not False
            )
            if ok:
                hist.setdefault(k, []).append(rnd)
    return hist


def main() -> None:
    names = registry_names()
    oracles = oracle_names()
    hist = green_history()
    lines = [
        "# Correctness manifest",
        "",
        f"{len(names)} registry entries; driver gate samples the first "
        f"{GATE_SLOTS}. `oracle`: sql = DuckDB twin in `oracle_sql()`, "
        "rows = rows-only (no SQL-expressible contract). "
        "`driver_green`: rounds where the driver's DuckDB gate passed this "
        "entry (rows+schema+hash). The local replica "
        "(scripts/check_correctness.py) covers 100% of entries every round "
        "regardless of gate position — see CORRECTNESS_LOCAL_r{N}.txt.",
        "",
        "| # | entry | gate | oracle | driver_green |",
        "|---|---|---|---|---|",
    ]
    for i, n in enumerate(names, 1):
        gate = "in" if i <= GATE_SLOTS else "out"
        okind = "sql" if n in oracles else "rows"
        greens = ",".join(f"r{r}" for r in hist.get(n, [])) or "—"
        lines.append(f"| {i} | {n} | {gate} | {okind} | {greens} |")
    out = "\n".join(lines) + "\n"
    (ROOT / "CORRECTNESS_MANIFEST.md").write_text(out)
    n_green = sum(1 for n in names if hist.get(n))
    print(f"wrote CORRECTNESS_MANIFEST.md: {len(names)} entries, "
          f"{n_green} with >=1 driver-green round, "
          f"{sum(1 for n in names if n in oracles)} with SQL oracles")


if __name__ == "__main__":
    main()
