"""Self-test of the output checks: a correct output passes and each
planted wrong output fails the check meant to catch it. Pure Python, no
Spark session:

    python3 kgbench/selftest.py        (from the root of a checkout)
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.getcwd()


def _csv_cases(tmp: str) -> list[tuple[str, list[str], str]]:
    from kgbench import checks
    from tests import gen_fixtures as G
    from tests import oracle

    rows = G.mipl_rows(n=40, seed=7)
    expected = oracle.v5(G.GRAMMAR_V5, rows, G.MIPL_DOMAIN)
    # one triple per line, in the shape kgforge.io.write.dump_turtle emits
    def term(o: str, dt: str | None) -> str:
        if dt is None:
            return f"<{o}>"
        lit = '"' + o.replace("\\", "\\\\").replace('"', '\\"') + '"'
        return lit + (f"^^<{dt}>" if dt else "")

    good = [f"<{s}> <{p}> {term(o, dt)} ." for s, p, o, dt in sorted(expected)]
    s, p, o = next(t[:3] for t in sorted(expected) if t[3] is None)
    planted = {
        "correct": (good, ""),
        "dropped triple": (good[1:], "expected triples missing"),
        "duplicate row": (good + good[:1], "duplicate triples"),
        "wrong IRI": ([f"<{s}x> <{p}> <{o}> ."] + good[1:], "not expected"),
    }
    cases = []
    for name, (lines, want) in planted.items():
        path = os.path.join(tmp, name.replace(" ", "_") + ".ttl")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        errors, _ = checks.check_turtle(path, expected)
        cases.append((f"csv_mapping {name}", errors, want))
    return cases


def _web_cases() -> list[tuple[str, list[str], str]]:
    from kgbench import checks
    from kgforge.mapping.spec import RDFS_LABEL
    from kgforge.web.corpus import make_corpus, mention_iri

    corpus = make_corpus(n_pages=60, seed=3)
    mentions = sorted(corpus.mention_triples)
    labels = sorted(corpus.labels)
    # a valid output: clusters = connected components of the scorer graph
    surfaces = sorted({surface for _, surface in labels})
    parent = {x: x for x in surfaces}

    def find(x: str) -> str:
        while parent[x] != x:
            x = parent[x]
        return x

    for i, a in enumerate(surfaces):
        for b in surfaces[i + 1 :]:
            if checks.linked(a, b):
                parent[find(a)] = find(b)
    members: dict[str, list[str]] = {}
    for x in surfaces:
        members.setdefault(find(x), []).append(mention_iri(x))
    cmap = {iri: min(iris) for iris in members.values() for iri in iris}
    good = sorted(
        {(cmap[s], p, cmap[o], None) for s, p, o in mentions}
        | {(cmap[i], RDFS_LABEL, surface, "") for i, surface in labels}
    )

    relation = next(row for row in good if row[3] is None)
    big = next(iris for iris in members.values() if len(iris) > 1)
    low, other = min(big), max(big)
    non_min = [tuple(other if x == low else x for x in row) for row in good]
    # merge two unrelated clusters under the smaller canonical IRI
    a, b = sorted({cmap[i] for i, _ in labels})[:2]
    merged = sorted({tuple(a if x == b else x for x in row) for row in good})
    planted = {
        "correct": (good, ""),
        "dropped triple": ([r for r in good if r != relation], "expected triples missing"),
        "duplicate row": (good + good[:1], "duplicate rows"),
        "non-minimum IRI": (non_min, "not its cluster's minimum IRI"),
        "merged clusters": (merged, "not connected under the scorer"),
    }
    return [
        (f"web_kg {name}", checks.check_web(rows, mentions, labels), want)
        for name, (rows, want) in planted.items()
    ]


def _query_cases() -> list[tuple[str, list[str], str]]:
    from kgbench import checks

    cols = ["a", "b", "score"]
    rows = [(1, 2, 0.9991234), (1, 3, 0.9995), (4, 7, None)]
    # the oracle's result, in another column and row order
    expected = (["score", "b", "a"], [(r[2], r[1], r[0]) for r in reversed(rows)])
    planted = {
        "correct": (rows, ""),
        "dropped row": (rows[1:], "rows vs oracle"),
        "duplicate row": (rows + rows[:1], "rows vs oracle"),
        "wrong value": ([(1, 2, 0.9981234)] + rows[1:], "value hash differs"),
    }
    return [
        (f"query tail {name}", checks.check_query("q", (cols, got), expected), want)
        for name, (got, want) in planted.items()
    ]


def main() -> int:
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".kgbench", f"selftest-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        cases = _csv_cases(tmp) + _web_cases() + _query_cases()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # a benchmark run still uses it
            pass
    bad = 0
    for name, errors, want in cases:
        ok = not errors if not want else any(want in e for e in errors)
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {errors[:1] or 'passes'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
