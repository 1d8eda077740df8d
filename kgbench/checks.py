"""Correctness checks on a pass's outputs, and a self-test of the checks.

Every check takes pandas frames and returns a list of failure messages
(empty when the output is correct). They test required properties of
the output, or compare it with a computation made independently of the
engine (pandas here, DuckDB in oracle.py) -- never with a stored copy
of an earlier run.

    python3 kgbench/checks.py     # self-test: each check must reject a corrupted output
"""

from __future__ import annotations

import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

TRIPLE_KEY = ["entity_name", "relation", "slot_value"]
OUTPUT_COLUMNS = ["entity_name", "entity_type", "relation", "slot_value", "slot_ner", "n_agree", "score"]


def read_parquet(path: str) -> pd.DataFrame:
    """A parquet file or directory as pandas, hive partition columns as
    plain strings (files named `_*` or `.*`, e.g. manifests, are skipped)."""
    df = pd.read_parquet(path)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.CategoricalDtype):
            df[c] = df[c].astype(str)
    return df


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _spec():
    from stanford_relation_extractor_spark.ontology import (
        GLOBAL_SCORE_THRESHOLD,
        PER_RELATION_THRESHOLDS,
        RELATION_BY_NAME,
        SINGLE,
    )
    from stanford_relation_extractor_spark.operators.ensemble import GROUP_KEY, N_EXTRACTORS

    return GLOBAL_SCORE_THRESHOLD, PER_RELATION_THRESHOLDS, RELATION_BY_NAME, SINGLE, GROUP_KEY, N_EXTRACTORS


def check_triples(triples: pd.DataFrame) -> list[str]:
    """Key uniqueness, relation signatures, SINGLE cardinality, threshold."""
    threshold, per_rel, relations, single, _, _ = _spec()
    bad = []
    dups = triples.duplicated(TRIPLE_KEY, keep=False)
    if dups.any():
        bad.append(f"{int(dups.sum())} rows repeat an (entity_name, relation, slot_value) key")
    unknown = ~triples["relation"].isin(list(relations))
    if unknown.any():
        bad.append(f"{int(unknown.sum())} rows carry a relation outside the ontology")
    fits = [
        r in relations and et == relations[r].entity_type and sn in relations[r].valid_slot_ners
        for r, et, sn in zip(triples["relation"], triples["entity_type"], triples["slot_ner"])
    ]
    misfit = int(len(fits) - sum(fits)) - int(unknown.sum())
    if misfit:
        bad.append(f"{misfit} rows break their relation's (entity_type, slot_ner) signature")
    singles = triples[[r in relations and relations[r].cardinality == single for r in triples["relation"]]]
    multi = singles.groupby(["entity_name", "entity_type", "relation"]).size()
    if (multi > 1).any():
        bad.append(f"{int((multi > 1).sum())} (entity, SINGLE relation) groups hold more than one slot")
    floor = triples["relation"].map(lambda r: max(threshold, per_rel.get(r, threshold)))
    low = triples["score"] < floor
    if low.any():
        bad.append(f"{int(low.sum())} rows score below the threshold")
    return bad


def _round_half_up(x: float, digits: int) -> float:
    # Spark's round(double, d): BigDecimal of the double's decimal
    # string, HALF_UP at scale d
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


def recompute_candidates(linked_votes: pd.DataFrame, digits: int = 6) -> pd.DataFrame:
    """Noisy-or + AGREE_MOST from the linked vote stream, in pandas."""
    _, _, _, _, group_key, n_extractors = _spec()
    best = linked_votes.groupby(group_key + ["extractor"], dropna=False)["score"].max().reset_index()
    rows = []
    for key, grp in best.groupby(group_key, dropna=False, sort=False):
        ws = sorted(grp["score"], reverse=True)
        if len(ws) < n_extractors // 2:  # AGREE_MOST, Java integer division
            continue
        acc = 1.0
        for w in ws:
            acc *= 1.0 - w
        rows.append((*key, len(ws), _round_half_up(1.0 - acc, digits)))
    return pd.DataFrame(rows, columns=group_key + ["n_agree", "score"])


def check_candidates(linked_votes: pd.DataFrame, candidates: pd.DataFrame) -> list[str]:
    """The engine's ensemble output equals the pandas recomputation."""
    _, _, _, _, group_key, _ = _spec()
    return _diff("candidates", candidates[group_key + ["n_agree", "score"]],
                 recompute_candidates(linked_votes))


def check_same(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact equality of two triple sets on the output columns."""
    return _diff(name, got[OUTPUT_COLUMNS], want[OUTPUT_COLUMNS])


def _diff(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    def rows(df: pd.DataFrame) -> list[tuple]:
        out = df.copy()
        out["score"] = out["score"].astype(float).round(9)
        out["n_agree"] = out["n_agree"].astype(int)
        return sorted(map(tuple, out.astype(object).where(out.notna(), None).itertuples(index=False)),
                      key=repr)

    a, b = rows(got), rows(want)
    if a == b:
        return []
    sa, sb = set(a), set(b)
    return [
        f"{name}: {len(a)} rows vs {len(b)} expected; "
        f"{len(sa - sb)} unexpected (e.g. {sorted(sa - sb, key=repr)[:1]}), "
        f"{len(sb - sa)} missing (e.g. {sorted(sb - sa, key=repr)[:1]})"
        + ("" if sa != sb else "; duplicate rows differ")
    ]


# --- self-test ---------------------------------------------------------------


def _sample() -> tuple[pd.DataFrame, pd.DataFrame]:
    votes = pd.DataFrame(
        [
            ("Ann Person000001", "PERSON", "per:age", "42", "NUMBER", "pattern", 0.9),
            ("Ann Person000001", "PERSON", "per:age", "42", "NUMBER", "window", 0.4),
            ("Ann Person000001", "PERSON", "per:age", "42", "NUMBER", "statistical", 0.7),
            ("Ann Person000001", "PERSON", "per:age", "42", "NUMBER", "trigger", 0.8),
            ("Org001", "ORGANIZATION", "org:city_of_headquarters", "Xville", "CITY", "pattern", 0.9),
            ("Org001", "ORGANIZATION", "org:city_of_headquarters", "Xville", "CITY", "pattern", 0.5),
            ("Org001", "ORGANIZATION", "org:city_of_headquarters", "Xville", "CITY", "window", 0.2),
            ("Org002", "ORGANIZATION", "org:founded", "1999", "DATE", "pattern", 0.9),
        ],
        columns=["entity_name", "entity_type", "relation", "slot_value", "slot_ner", "extractor", "score"],
    )
    triples = recompute_candidates(votes)
    return votes, triples


def self_test() -> tuple[int, list[str]]:
    """Each check passes on a correct output and rejects each corruption.
    Returns (cases run, problems found)."""
    votes, cand = _sample()
    problems = []
    if len(cand) != 2 or check_triples(cand) or check_candidates(votes, cand) or check_same("t", cand, cand):
        problems.append("a correct output was rejected")
    cases = {
        "duplicated key": lambda: check_triples(pd.concat([cand, cand.iloc[:1]])),
        "score below threshold": lambda: check_triples(cand.assign(score=[0.4, 0.99])),
        "wrong signature": lambda: check_triples(cand.assign(slot_ner=["CITY", "CITY"])),
        "two slots of a SINGLE relation": lambda: check_triples(
            pd.concat([cand, cand.iloc[:1].assign(slot_value="43")])
        ),
        "wrong noisy-or": lambda: check_candidates(votes, cand.assign(score=cand["score"] + 1e-6)),
        "wrong agreement count": lambda: check_candidates(votes, cand.assign(n_agree=cand["n_agree"] - 1)),
        "missing triple": lambda: check_same("t", cand.iloc[1:], cand),
        "extra triple": lambda: check_same("t", pd.concat([cand, cand.iloc[:1].assign(slot_value="7")]), cand),
    }
    for name, run in cases.items():
        if not run():
            problems.append(f"the checks accepted an output with a {name}")
    return len(cases) + 1, problems


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    n_cases, failures = self_test()
    for f in failures:
        print("FAIL:", f)
    print(f"self-test: {n_cases - len(failures)}/{n_cases} cases ok")
    raise SystemExit(1 if failures else 0)
