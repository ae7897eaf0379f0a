"""Catalog identity between two checkouts, written to
``plans/catalog_identity.json``.

Usage: python scripts/catalog_identity.py PARENT CHANGE SF_DIR [OUT]

PARENT and CHANGE are checkout roots (for example a ``git archive`` of
the parent commit and the working tree); SF_DIR is the sf0.01 table
directory; OUT defaults to this repository's
``plans/catalog_identity.json``. Each checkout is probed in its own
Python process with that checkout first on ``sys.path``, in the vanilla
session of ``scripts/oracle_check.py``. For every entry of
``list(QUERIES)`` the probe records:

- the sha256 of its DuckDB oracle SQL (of "" for a rows-only entry);
- its build-time job count: the Spark jobs the builder call launches
  under a job group of its own, before the result is collected. The
  plan hash cannot see work an entry runs at build (a streaming drain,
  a blueprint cycle whose result is a checkpoint), the count can;
- the sha256 of its ``explain("formatted")`` text, taken before the
  result is collected, after the masks in ``MASKS``;
- the sha256 of its sorted result rows;
- the sf0.01 DuckDB verdict of ``oracle_check``: true, false or
  "rows-only".

The cache is cleared after each entry. Probing one checkout twice must
give equal hashes: with PARENT and CHANGE the same path, an entry whose
rows hash moves between the two runs is listed in ``unstable_rows``.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import re
import subprocess
import sys
import tempfile
import traceback

SCRIPTS = os.path.dirname(os.path.abspath(__file__))

# (pattern, replacement, what it hides): run-to-run noise in a plan text
MASKS = [
    (r"#\d+L?", "#N", "expression ids"),
    (r"plan_id=\d+", "plan_id=N", "exchange plan ids"),
    (r"RDD\[\d+\]", "RDD[N]", "RDD ids (checkpoint and existing-RDD scans)"),
    (r"(file:)?/tmp/[^\s,\]\)]*", "<tmp>", "temp-directory paths"),
    (r"\b([A-Za-z]\w*?)_[0-9a-f]{8}\b", r"\1_<uuid>", "uuid-suffixed memory-sink names"),
    # PySpark names a Python lambda's variables x_1, x_2, ... from one
    # per-JVM counter, so a lambda added to one entry renumbers the
    # lambdas of every entry built after it in the same session
    (r"\b(lambda \w+?)_\d+(?=#N)", r"\1_N", "counter-numbered lambda variables"),
]


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def mask(text: str) -> str:
    """``text`` with every ``MASKS`` pattern replaced, in order."""
    for pattern, repl, _what in MASKS:
        text = re.sub(pattern, repl, text)
    return text


def masked_plan(df, checkout: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return mask(buf.getvalue().replace(checkout, "<checkout>"))


def rows_sha(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(map(str, r)) for r in pdf[cols].itertuples(index=False))
    return _sha("\x1e".join([",".join(cols), *rows]))


def probe(checkout: str, sf_dir: str, out_path: str) -> None:
    """Hash every entry of the catalog in ``checkout`` into ``out_path``."""
    import oracle_check

    sys.path.insert(0, checkout)
    os.chdir(checkout)
    from amazon_macie_activity_generator_spark.queries import QUERIES

    spark = oracle_check.vanilla_session()
    sc = spark.sparkContext
    con = oracle_check.duck_views(sf_dir)
    entries = {}
    for name, (fn, sql) in QUERIES.items():
        rec = {"module": fn.__module__.rsplit(".", 1)[-1], "oracle_sql_sha256": _sha(sql or "")}
        try:
            sc.setJobGroup(f"identity-build-{name}", name)
            df = fn(spark, sf_dir)
            sc.setJobGroup(f"identity-run-{name}", name)
            sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
            rec["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"identity-build-{name}"))
            rec["plan_sha256"] = _sha(masked_plan(df, checkout))
            sdf = df.toPandas()
            rec["rows_sha256"] = rows_sha(sdf)
            rec["sf001_drive"] = (
                oracle_check.agrees(sdf, con.sql(sql).df()) if sql else "rows-only"
            )
        except Exception as exc:  # noqa: BLE001 — record, keep probing
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            traceback.print_exc()
        finally:
            spark.catalog.clearCache()
        entries[name] = rec
        print(name, rec, file=sys.stderr, flush=True)
    with open(out_path, "w") as fh:
        json.dump(entries, fh)


def run_probe(checkout: str, sf_dir: str) -> dict:
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "probe.json")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--probe", checkout, sf_dir, out],
            check=True, cwd=checkout,
        )
        with open(out) as fh:
            return json.load(fh)


def drive_counts(side: dict) -> dict:
    verdicts = [rec.get("sf001_drive", "error") for rec in side.values()]
    return {"green": verdicts.count(True), "rows-only": verdicts.count("rows-only"),
            "mismatch": verdicts.count(False), "error": verdicts.count("error")}


def compare(parent_path: str, change_path: str, parent: dict, change: dict) -> dict:
    fields = ("oracle_sql_sha256", "build_jobs", "plan_sha256", "rows_sha256", "sf001_drive")
    names = list(change) + [n for n in parent if n not in change]
    entries = {}
    for name in names:
        p, c = parent.get(name, {}), change.get(name, {})
        rec = {"module": c.get("module", p.get("module"))}
        rec.update({f: [p.get(f), c.get(f)] for f in fields})
        errors = [p.get("error"), c.get("error")]
        if any(errors):
            rec["error"] = errors
        entries[name] = rec

    def same(field: str) -> int:
        return sum(1 for r in entries.values()
                   if r[field][0] is not None and r[field][0] == r[field][1])

    out = {
        "what": "catalog identity, parent vs change: [parent, change] per entry",
        "plan": ("explain('formatted') at sf0.01 before collection, the vanilla "
                 "local[8] session of scripts/oracle_check.py (8 shuffle "
                 "partitions), cache cleared after each entry"),
        "plan_masks": [what for _p, _r, what in MASKS] + ["checkout root"],
        "build_jobs": "Spark jobs launched by the builder call, counted by a per-entry job group",
        "rows": "sha256 of the result rows, columns sorted by name, rows sorted as text",
        "sf001_drive": ("scripts/oracle_check.py's comparison at sf0.01: true = equal "
                        "to the DuckDB oracle, rows-only = no oracle"),
        "names_identical": list(parent) == list(change),
        "oracle_sql_identical": same("oracle_sql_sha256"),
        "build_jobs_identical": same("build_jobs"),
        "plans_identical": same("plan_sha256"),
        "rows_identical": same("rows_sha256"),
        "entries_total": len(entries),
        "drive": {"parent": drive_counts(parent), "change": drive_counts(change)},
        "build_jobs_differ": [n for n, r in entries.items() if r["build_jobs"][0] != r["build_jobs"][1]],
        "plans_differ": [n for n, r in entries.items() if r["plan_sha256"][0] != r["plan_sha256"][1]],
        "rows_differ": [n for n, r in entries.items() if r["rows_sha256"][0] != r["rows_sha256"][1]],
        "entries": entries,
    }
    if os.path.abspath(parent_path) == os.path.abspath(change_path):
        out["unstable_rows"] = out.pop("rows_differ")
    return out


def write(result: dict, out_path: str) -> None:
    """Indented JSON with one line per entry."""
    head = {k: v for k, v in result.items() if k != "entries"}
    lines = [f"  {json.dumps(n)}: {json.dumps(r)}" for n, r in result["entries"].items()]
    with open(out_path, "w") as fh:
        fh.write(json.dumps(head, indent=1)[:-2])
        fh.write(',\n "entries": {\n' + ",\n".join(lines) + "\n }\n}\n")


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--probe":
        sys.path.insert(0, SCRIPTS)
        probe(*args[1:4])
        return
    if len(args) not in (3, 4):
        sys.exit(__doc__)
    parent_path, change_path, sf_dir = args[:3]
    out_path = args[3] if len(args) == 4 else os.path.join(
        os.path.dirname(SCRIPTS), "plans", "catalog_identity.json")
    parent = run_probe(parent_path, sf_dir)
    change = run_probe(change_path, sf_dir)
    result = compare(parent_path, change_path, parent, change)
    write(result, out_path)
    print(json.dumps({k: result[k] for k in (
        "names_identical", "oracle_sql_identical", "build_jobs_identical", "plans_identical",
        "rows_identical", "entries_total", "drive")}))
    print("build jobs differ:", result["build_jobs_differ"])
    print("plans differ:", result["plans_differ"])
    print("rows differ:", result.get("rows_differ", result.get("unstable_rows")))


if __name__ == "__main__":
    main()
