#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [query ...]
       python3 tools/check_oracle.py --selftest

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), runs each
statement in DuckDB over the parquet tables in <sfDir>, and compares with
the parquet result Verify dumped, after sorting columns by name and rows
by all columns. Reports per-query PASS/FAIL with first differences.
Each optional query argument may itself be a comma-separated list; with
none, every query in oracle_sql.json is checked. A named query that is
not in oracle_sql.json counts as a failure.
"""
import json
import re
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# --------------------------------------------------------------------
# bare-decimal lint (VERDICT r19 item 3)
# --------------------------------------------------------------------
# DuckDB evaluates DECIMAL-literal x BIGINT multiplication in exact
# DECIMAL while the engine mirrors every literal as an IEEE double —
# a one-ulp divergence that flips near-tied ORDER BYs / round
# boundaries. This class was hand-fixed three times (q155, q252/q130,
# q141) before becoming mechanical here. Facts the rules rest on
# (probed against this duckdb build):
#   - `/` ALWAYS returns DOUBLE (even DECIMAL/DECIMAL), so division
#     is never the exact-DECIMAL path and any `/`-derived operand is
#     DOUBLE;
#   - DECIMAL * DOUBLE returns DOUBLE with the literal converted to
#     the same double the engine's mirrored literal denotes — safe;
#   - DECIMAL * BIGINT (or * DECIMAL) stays DECIMAL — the bug class.
# Flagged shapes (string literals blanked first):
#   decimal * identifier        e.g.  0.85 * cnt
#   identifier * decimal        e.g.  t.tf * 1.2
#   identifier * ( decimal ...  e.g.  t.tf * (1.2 + 1)   [the q141 bug]
# NOT flagged (documented limitations, audited 2026-08-15):
#   - any `/` (always DOUBLE in DuckDB);
#   - function-call operands (ln/exp/CAST/... return DOUBLE; the hole
#     is sum()/least() over DECIMAL args, which the lint would catch
#     at the inner expression when one exists);
#   - `(...) * decimal` with a close-paren left operand (130 audited
#     instances, all double-valued quality-score / roundAt chains);
#   - identifiers whose left chain ends in `/` (the chain is DOUBLE).
# Exemptions assert the identifier operand is DOUBLE-typed, making
# the product DOUBLE with an exactly-converted literal. A new hit
# fails check_oracle until CAST to DOUBLE (preferred) or exempted
# here WITH the type argument.
LINT_EXEMPT = {
    # p_retailprice is DOUBLE in the testdata parquet
    "q14_scalar_funcs": [r"p_retailprice \* 1\.1"],
    # prev is a list_reduce((a+b)/2.0) EWMA — `/`-derived DOUBLE
    "q221_ewma_rates": [r"prev \* 2\.0"],
    # tp.p is a transition probability (count ratio) — DOUBLE; x1.0
    # is an IEEE no-op that keeps the CASE branches one type
    "q237_removal_effect": [r"tp\.p \* 1\.0"],
    # sum's argument is r.pr / d.deg — DuckDB `/` always returns
    # DOUBLE, so the sum (and the product) is float arithmetic, not
    # the DECIMAL*BIGINT class the aggregate-call rule targets
    "q119_pagerank_dups": [r"0\.85 \* sum\("],
    # events.value is DOUBLE in the testdata parquet
    "q255_cuped": [r"value \* 1000\.0"],
    # w is the power-iteration eigenvector component — DOUBLE
    "q256_stationary": [r"w \* 1000000000000\.0"],
}

_DEC = r"\d+\.\d+(?![\w.eE])"
_ID = r"[A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)*"


def _strip_strings(sql: str) -> str:
    return re.sub(r"'(?:[^']|'')*'", lambda m: " " * len(m.group(0)), sql)


# Functions whose DuckDB return type is DOUBLE regardless of argument
# type — a decimal literal times one of these is float arithmetic, not
# the DECIMAL*integer bug class. count()/sum()/min()/max() over
# integers return BIGINT/HUGEINT and are deliberately NOT here: `0.5 *
# count(*)` is exactly the bug shape the lint exists for (ADVICE r20 —
# the old blanket `(?!\s*\()` exempted every call). CAST is handled
# separately: only CAST(... AS DOUBLE) is safe.
_DOUBLE_FUNCS = {
    "ln", "log", "log2", "log10", "log1p", "exp", "sqrt", "power", "pow",
    "avg", "mean", "median", "stddev", "stddev_samp", "stddev_pop",
    "var_pop", "var_samp", "variance", "corr", "degrees", "radians",
}


def _call_is_double(sql: str, ident: str, open_paren: int) -> bool:
    """True when ident(...) at open_paren returns DOUBLE for sure."""
    base = ident.split(".")[-1].lower()
    if base in _DOUBLE_FUNCS:
        return True
    if base in ("cast", "try_cast"):
        # safe only when the cast target is DOUBLE
        return bool(re.match(r"[^()]*\bas\s+double\s*\)",
                             sql[open_paren + 1:open_paren + 200],
                             re.IGNORECASE))
    return False


def lint_bare_decimals(oracle: dict) -> list:
    """Return [(query, snippet)] for every non-exempt bare-decimal
    multiply against a non-CAST identifier operand."""
    findings = []
    for name, sql0 in sorted(oracle.items()):
        sql = _strip_strings(sql0)
        spans = []
        # decimal * identifier (identifier not a function call)
        for m in re.finditer(
                r"(?<![\w.])" + _DEC + r"\s*\*\s*" + _ID + r"\b(?!\s*\()", sql):
            spans.append(m)
        # decimal * fn(...) where fn is NOT a known DOUBLE-returning
        # function: count()/sum() over integers return BIGINT/HUGEINT,
        # so this is still the DECIMAL*integer class (ADVICE r20)
        for m in re.finditer(
                r"(?<![\w.])" + _DEC + r"\s*\*\s*(" + _ID + r")\s*\(", sql):
            if not _call_is_double(sql, m.group(1), m.end() - 1):
                spans.append(m)
        # identifier * decimal / identifier * ( decimal ...
        for m in re.finditer(
                _ID + r"\b\s*\*\s*\(?\s*" + _DEC, sql):
            prev_ch = sql[m.start() - 1] if m.start() > 0 else " "
            if prev_ch.isalnum() or prev_ch in "._":
                continue  # mid-identifier artifact
            if sql[:m.start()].rstrip().endswith("/"):
                continue  # left chain contains a division -> DOUBLE
            spans.append(m)
        exempt = [re.compile(p) for p in LINT_EXEMPT.get(name, [])]
        for m in spans:
            snippet = re.sub(r"\s+", " ", m.group(0))
            if any(p.search(snippet) for p in exempt):
                continue
            ctx = re.sub(r"\s+", " ", sql[max(0, m.start() - 30):m.end() + 30])
            findings.append((name, f"{snippet!r} in ...{ctx}..."))
    return findings


class NestedColumnError(TypeError):
    """A result column carries struct/array cells the DRIVER's compare
    cannot sort (pandas lexsort throws `unhashable type: 'dict'` /
    'numpy.ndarray'). Round 17 shipped q195/q196/q210 green locally
    because this checker stringified those cells — a gate laxer than
    the driver's. Now they fail loudly in-repo: flatten the output or
    serialize it to one string column ON BOTH ENGINES instead."""


def _reject_nested(df: pd.DataFrame, side: str) -> None:
    import numpy as np
    nested = (dict, list, tuple, set, np.ndarray)
    for c in df.columns:
        if df[c].dtype == object and \
                df[c].dropna().map(lambda v: isinstance(v, nested)).any():
            raise NestedColumnError(
                f"{side} column {c!r} holds struct/array cells — not "
                "driver-checkable; flatten or canonical-string it on both engines")


def canon(df: pd.DataFrame, side: str = "result") -> pd.DataFrame:
    _reject_nested(df, side)
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamp resolutions (ns vs us) to us
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def query_filter(args: list) -> set:
    """The query names of every positional argument after <sfDir> and
    <verifyOutDir>; each argument may be a comma-separated list."""
    return {n.strip() for a in args for n in a.split(",") if n.strip()}


def main(sf_dir: str, out_dir: str, keep: set = frozenset()) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    # a typo'd name must not pass as "0 fail": each one is a failure
    unknown = sorted(set(keep) - set(oracle))
    for name in unknown:
        print(f"FAIL {name}: not in oracle_sql.json")
    lint_scope = {n: s for n, s in oracle.items() if not keep or n in keep}
    lint = lint_bare_decimals(lint_scope)
    for name, msg in lint:
        print(f"LINT {name}: bare-decimal multiply — {msg}")
    n_pass, n_fail = 0, len(lint) + len(unknown)
    for name, sql in sorted(lint_scope.items()):
        try:
            exp = con.sql(sql).df()
            got = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            exp, got = canon(exp, "oracle"), canon(got, "spark")
            if list(exp.columns) != list(got.columns):
                print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
                n_fail += 1
                continue
            if len(exp) != len(got):
                print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
                n_fail += 1
                continue
            # exact compare first; report max numeric diff on mismatch
            eq = exp.equals(got)
            if eq:
                print(f"PASS {name} ({len(got)} rows)")
                n_pass += 1
            else:
                print(f"FAIL {name}: value mismatch")
                for c in exp.columns:
                    if not exp[c].equals(got[c]):
                        if pd.api.types.is_numeric_dtype(exp[c]):
                            d = (exp[c] - got[c]).abs().max()
                            print(f"  col {c}: max abs diff {d}")
                        else:
                            m = exp[c] != got[c]
                            print(f"  col {c}: first diff exp={exp[c][m].iloc[0]!r} "
                                  f"got={got[c][m].iloc[0]!r}")
                n_fail += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


def selftest() -> int:
    """Standing gate on the gate (VERDICT r18 item 6): prove that a
    nested (struct/array) result column FAILS this checker the same way
    it would fail the driver's pandas-lexsort compare, and that the
    faithful replica of the driver's canonicalization (all-column
    lexsort + hash_pandas_object md5) agrees with canon() on a flat
    frame. Run `python3 tools/check_oracle.py --selftest` before
    committing any query whose OUTPUT SCHEMA changes; a zero exit means
    the gate still rejects what the driver cannot sort."""
    import hashlib
    import numpy as np
    failures = []
    # 1. nested cells must raise NestedColumnError (round-17 regression:
    #    this checker once stringified them and passed queries the
    #    driver then failed)
    for bad in (pd.DataFrame({"a": [1, 2], "s": [{"x": 1}, {"x": 2}]}),
                pd.DataFrame({"a": [1], "v": [np.array([1.0, 2.0])]}),
                pd.DataFrame({"a": [1], "l": [[1, 2]]})):
        try:
            canon(bad, "selftest")
            failures.append(f"nested column {list(bad.columns)} passed canon()")
        except NestedColumnError:
            pass
    # 2. flat frames sail through, and the driver-replica hash
    #    (columns sorted by name, rows lexsorted, md5 of
    #    hash_pandas_object) matches across column/row permutations —
    #    the property the driver's compare relies on
    flat = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    perm = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})

    def driver_hash(df: pd.DataFrame) -> str:
        c = canon(df, "selftest")
        return hashlib.md5(
            pd.util.hash_pandas_object(c, index=False).values.tobytes()).hexdigest()

    if driver_hash(flat) != driver_hash(perm):
        failures.append("driver-replica hash not permutation-invariant")
    if driver_hash(flat) == driver_hash(
            pd.DataFrame({"a": ["x", "y"], "b": [1.0, 3.0]})):
        failures.append("driver-replica hash blind to a value change")
    # 3. the bare-decimal lint must fire on the known-bad shapes
    #    (q141's actual pre-fix bug among them), stay quiet on the
    #    CAST/division/scientific-literal safe forms, and honor the
    #    exemption table
    bad_sqls = {
        "t1": "SELECT t.tf * (1.2 + 1) AS x FROM t",       # the q141 bug
        "t2": "SELECT 0.85 * cnt AS x FROM t",
        "t3": "SELECT sum(ln(x) * (a.b * 1.2)) FROM t a",
        # DECIMAL * aggregate-over-integers: count()/sum() return
        # BIGINT/HUGEINT, so this is the bug class even though the
        # right operand is a function call (ADVICE r20)
        "t4": "SELECT 0.5 * count(*) AS x FROM t",
        "t5": "SELECT 0.25 * sum(n) AS x FROM t",
        # CAST to a non-DOUBLE target stays integer arithmetic
        "t6": "SELECT 0.5 * CAST(n AS BIGINT) AS x FROM t",
    }
    for n, s in bad_sqls.items():
        if not lint_bare_decimals({n: s}):
            failures.append(f"decimal lint missed known-bad shape {n}: {s}")
    good_sqls = {
        "g1": "SELECT CAST(t.tf AS DOUBLE) * CAST((1.2 + 1) AS DOUBLE) FROM t",
        "g2": "SELECT a / b * 5.0 FROM t",                  # /-chain is DOUBLE
        "g3": "SELECT x * 1e12 FROM t",                     # scientific = DOUBLE
        "g4": "SELECT ln(x) * 2.0, 0.5 * exp(y) FROM t",    # DOUBLE fns whitelisted
        "g5": "SELECT '0.5 * lit' AS s, x FROM t",          # inside a string
        "g6": "SELECT 0.5 * CAST(n AS DOUBLE) FROM t",      # DOUBLE cast is safe
        "g7": "SELECT 0.5 * avg(n) FROM t",                 # avg returns DOUBLE
        "q221_ewma_rates": "SELECT prev * 2.0 FROM t",      # exempt table honored
    }
    for n, s in good_sqls.items():
        got = lint_bare_decimals({n: s})
        if got:
            failures.append(f"decimal lint false-positive on {n}: {got}")
    # 4. the query filter joins every positional argument, each of which
    #    may be comma-separated (a filter once kept only the first)
    for args, want in (([], set()),
                       (["q61"], {"q61"}),
                       (["q61", "q97", "q143"], {"q61", "q97", "q143"}),
                       (["q61,q97", "q143"], {"q61", "q97", "q143"}),
                       ([" q61 , ,q97", ","], {"q61", "q97"})):
        if query_filter(args) != want:
            failures.append(f"query filter {args} -> {query_filter(args)}, want {want}")
    for f in failures:
        print(f"SELFTEST FAIL: {f}")
    print(f"== selftest {'FAILED' if failures else 'passed'}: nested-output "
          f"rejection + driver-hash replica + bare-decimal lint + query filter ==")
    return 1 if failures else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        sys.exit(selftest())
    sys.exit(main(sys.argv[1], sys.argv[2], query_filter(sys.argv[3:])))
