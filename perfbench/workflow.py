"""The paper's refresh workflow: seeded payloads, a plain-Python reference
model of the warehouse they should produce, and the output check.

Nothing here runs Spark or calls the engine's normalizers: the
reference is computed from the generator's numbers with the semantics
documented in ``operators/merge.py`` (smart_update) and
``sources/excel_grid.py`` (fiscal-year dates), and the check reads the
warehouse's Parquet files with pyarrow. The engine is only the system
under test; rows are compared with ``tools/check_parity.norm_rows``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import pyarrow.parquet as pq

TOLERANCE = 0.001  # operators/merge.py DEFAULT_TOLERANCE
JUNK = ("N/A", ".", "junk")  # tokens every normalizer drops
COLD_YEARS = 10
EXTRA_YEARS = 2
FIRST_YEAR = 2013
JUNK_P = 0.03
REVISE_P = 0.10  # revised well beyond tolerance
NUDGE_P = 0.05  # changed by less than the tolerance: must not revise

# Fiscal order of the EDB grid rows; Jul-Dec of fiscal year Y are
# calendar year Y-1, Jan-Jun are year Y (sources/excel_grid.py).
FISCAL_MONTHS = (
    ("July", 7), ("August", 8), ("September", 9), ("October", 10),
    ("November", 11), ("December", 12), ("January", 1), ("February", 2),
    ("March", 3), ("April", 4), ("May", 5), ("June", 6),
)
NYU_HEADERS = ("Start of month", "T.Bond Rate", "ERP (T12m)", "Expected Return")
REVISION_COLS = ("dataset", "data_date", "value_field", "old_value",
                 "new_value", "revision_date")


@dataclass
class Phase:
    """One batch of one dataset: the raw payload and the numbers in it."""

    payload: object
    rows: dict  # date -> tuple of values, junk rows excluded


@dataclass
class Expected:
    """Reference state of one dataset after each phase."""

    table: dict = field(default_factory=dict)  # date -> values
    revisions: list = field(default_factory=list)  # REVISION_COLS tuples
    counts: dict = field(default_factory=dict)


def _cell(v) -> str:
    # repr is the shortest decimal that parses back to the same double,
    # so Spark's string->double cast and the reference agree bit for bit.
    return str(v) if isinstance(v, int) else repr(v)


def _keys(spec, years: int) -> list[tuple]:
    """(date, grid label) for every observation of ``years`` years."""
    if spec.source == "edb_monthly":
        return [
            (dt.date(fy - 1 if m >= 7 else fy, m, 1), (name, fy))
            for fy in range(FIRST_YEAR, FIRST_YEAR + years)
            for name, m in FISCAL_MONTHS
        ]
    if spec.source == "fred" and spec.frequency == "q":
        # FRED stamps the first day of the quarter; the stored key is
        # the first day of the month after quarter end (+3 months).
        return [
            (dt.date(y + (q == 4), 1 if q == 4 else 3 * q + 1, 1),
             dt.date(y, 3 * q - 2, 1).isoformat())
            for y in range(FIRST_YEAR, FIRST_YEAR + years)
            for q in (1, 2, 3, 4)
        ]
    return [
        (dt.date(y, m, 1), dt.date(y, m, 1).isoformat())
        for y in range(FIRST_YEAR, FIRST_YEAR + years)
        for m in range(1, 13)
    ]


def _base_value(spec, rng):
    if spec.source == "nyu_stern":
        # fractions <= 0.2 are taken as-is by the percent heuristic
        return tuple(round(rng.uniform(0.01, 0.12), 4) for _ in spec.value_columns)
    if spec.value_type == "long":
        return (rng.randint(1_000, 100_000),)
    return (round(rng.uniform(50.0, 5_000.0), 2),)


def _revise(spec, vals, rng):
    """Change at least one field by far more than the tolerance; other
    NYU fields may move by less than it (the whole row is replaced)."""
    out = list(vals)
    fields = rng.sample(range(len(vals)), rng.randint(1, len(vals)))
    for i in range(len(vals)):
        sign = rng.choice((-1, 1))
        if spec.source == "nyu_stern":
            if i in fields:
                out[i] = round(vals[i] + sign * rng.uniform(0.005, 0.05), 5)
            elif rng.random() < 0.5:
                out[i] = round(vals[i] + sign * 1e-5, 5)
        elif spec.value_type == "long":
            out[i] = vals[i] + sign * rng.randint(1, 50)
        else:
            out[i] = round(vals[i] + sign * rng.uniform(0.5, 25.0), 2)
    return tuple(out)


def _nudge(spec, vals, rng):
    """Move every field by at most 1e-4 (< tolerance); None for long specs."""
    if spec.value_type == "long":
        return None
    step = 1e-5 if spec.source == "nyu_stern" else 1e-4
    return tuple(round(v + rng.choice((-1, 1)) * step, 5) for v in vals)


def _render(spec, entries) -> object:
    """entries: [(date, label, cell strings)] -> raw payload."""
    if spec.source == "edb_monthly":
        years = sorted({label[1] for _, label, _ in entries})
        grid = {label: cells[0] for _, label, cells in entries}
        return [[""] + years] + [
            [name] + [grid[(name, fy)] for fy in years] for name, _ in FISCAL_MONTHS
        ]
    if spec.source == "fred":
        return {"observations": [
            {"date": label, "value": cells[0]} for _, label, cells in entries
        ]}
    return [dict(zip(NYU_HEADERS, [label] + cells)) for _, label, cells in entries]


def generate(spec, seed: int) -> tuple[Phase, Phase]:
    """(cold, incremental) batches of one dataset for one seed.

    The cold batch holds COLD_YEARS years; the incremental one repeats
    them with REVISE_P of the rows revised beyond tolerance and NUDGE_P
    changed below it, and adds EXTRA_YEARS new years. Both carry ~JUNK_P
    junk cells, which the normalizers drop.
    """
    rng = random.Random(f"{seed}:{spec.name}")
    keys = _keys(spec, COLD_YEARS + EXTRA_YEARS)
    n_cold = len(_keys(spec, COLD_YEARS))
    base = {d: _base_value(spec, rng) for d, _ in keys}
    old = [d for d, _ in keys[:n_cold]]
    revised = set(rng.sample(old, max(1, round(REVISE_P * n_cold))))
    nudged = set(rng.sample(sorted(set(old) - revised), max(1, round(NUDGE_P * n_cold))))
    phases = []
    for incremental in (False, True):
        entries, rows = [], {}
        for i, (d, label) in enumerate(keys):
            if i >= n_cold and not incremental:
                break
            v = base[d]
            if incremental and d in revised:
                v = _revise(spec, v, rng)
            elif incremental and d in nudged:
                v = _nudge(spec, v, rng) or v
            cells = [_cell(x) for x in v]
            if rng.random() < JUNK_P:
                # one junk field drops the whole row (NYU: na.drop)
                cells[rng.randrange(len(cells))] = rng.choice(JUNK)
            else:
                rows[d] = v
            entries.append((d, label, cells))
        phases.append(Phase(_render(spec, entries), rows))
    return phases[0], phases[1]


def merge(exp: Expected, spec, incoming: dict, run_ts: dt.datetime) -> None:
    """smart_update semantics applied to the reference state in place.

    Unseen key -> insert. A key where any field moved beyond the
    tolerance -> the whole row takes the new values, and one revision
    row per field beyond it. Otherwise the stored row stays, and rows
    absent from the batch stay.
    """
    new = updated = revisions = 0
    for d, vals in sorted(incoming.items()):
        old = exp.table.get(d)
        if old is None:
            exp.table[d] = vals
            new += 1
            continue
        changed = [i for i, (a, b) in enumerate(zip(vals, old)) if abs(a - b) > TOLERANCE]
        if not changed:
            continue
        exp.table[d] = vals
        updated += 1
        for i in changed:
            revisions += 1
            exp.revisions.append((spec.name, d.isoformat(), spec.value_columns[i],
                                  float(old[i]), float(vals[i]), run_ts))
    exp.counts = {"new": new, "updated": updated, "revisions": revisions}


# -- output check ---------------------------------------------------------

def _rows(path: str, columns) -> list[tuple]:
    t = pq.read_table(path, columns=list(columns))
    cols = []
    for name in columns:
        c = t.column(name)
        if str(c.type).startswith("timestamp"):
            c = c.cast("timestamp[us]")  # datetime, not pandas.Timestamp
        cols.append(c.to_pylist())
    return list(zip(*cols))


def _same(cols, got, want) -> bool:
    from tools.check_parity import norm_rows  # noqa: PLC0415

    return norm_rows(list(cols), got) == norm_rows(list(cols), want)


def check_dataset(root: str, spec, detail: dict, exp: Expected,
                  run_ts: dt.datetime) -> list[str]:
    """Differences between one dataset's warehouse state and the reference
    after a phase: status, counts, table rows, revision rows, watermark."""
    problems = []
    if detail.get("status") != "updated":
        return [f"status {detail.get('status')} {detail.get('error', '')}".strip()]
    got_counts = {k: detail.get(k) for k in ("new", "updated", "revisions")}
    if got_counts != exp.counts:
        problems.append(f"counts {got_counts} != {exp.counts}")
    cols = ("date",) + tuple(spec.value_columns)
    want = [(d,) + tuple(v) for d, v in exp.table.items()]
    if not _same(cols, _rows(os.path.join(root, spec.name), cols), want):
        problems.append("table rows differ")
    rev_path = os.path.join(root, "datarevisions")
    got_revs = []
    if os.path.isdir(rev_path):
        got_revs = [r for r in _rows(rev_path, REVISION_COLS) if r[0] == spec.name]
    if not _same(REVISION_COLS, got_revs, exp.revisions):
        problems.append(f"revision rows differ ({len(got_revs)} vs {len(exp.revisions)})")
    mark = _rows(os.path.join(root, "scrapermetadata", f"dataset={spec.name}"),
                 ("last_run",))
    if mark != [(run_ts,)]:
        problems.append(f"watermark {mark} != {run_ts}")
    return problems


# -- read-back operations ---------------------------------------------------

def plan_reads(specs, expected: dict, seed, n: int) -> list[tuple]:
    """Seeded read-back mix, in fixed shares so that every seed asks for
    the same kinds of work: 60% point lookups (a sixth of them for
    absent keys), 25% latest-N, the rest revision-log reads."""
    rng = random.Random(f"{seed}:reads")
    n_point, n_latest = round(0.6 * n), round(0.25 * n)
    kinds = ["point_lookup"] * n_point + ["latest_n"] * n_latest
    kinds += ["revisions"] * (n - len(kinds))
    ops = []
    for i, kind in enumerate(kinds):
        spec = specs[i % len(specs)]
        keys = sorted(expected[spec.name].table)
        if kind == "point_lookup":
            absent = i % 6 == 0
            ops.append((kind, spec, dt.date(1990, 1, 1) if absent else rng.choice(keys)))
        elif kind == "latest_n":
            ops.append((kind, spec, (rng.choice(keys), rng.randint(3, 12))))
        else:
            ops.append((kind, spec, None))
    rng.shuffle(ops)
    return ops


def expected_read(op, expected: dict) -> tuple[tuple, list[tuple]]:
    """(column names, rows) the read should return; latest-N is ordered."""
    kind, spec, arg = op
    exp = expected[spec.name]
    cols = ("date",) + tuple(spec.value_columns)
    if kind == "point_lookup":
        return cols, [(arg,) + exp.table[arg]] if arg in exp.table else []
    if kind == "latest_n":
        cutoff, n = arg
        keys = sorted((d for d in exp.table if d >= cutoff), reverse=True)[:n]
        return cols, [(d,) + exp.table[d] for d in keys]
    return REVISION_COLS, list(exp.revisions)


def check_read(op, cols, rows, expected: dict) -> bool:
    want_cols, want = expected_read(op, expected)
    if tuple(cols) != want_cols:
        return False
    if op[0] == "latest_n":  # order is part of the answer
        return [tuple(r) for r in rows] == want
    return _same(want_cols, [tuple(r) for r in rows], want)
