"""Seeded input generators for the kgforge benchmark.

Each generator is a pure function of (seed, size) and runs in its own
process, so its memory never counts toward the driver's memory figures:

    python3 kgbench/gen.py csv --seed 1 --size 10000 --out DIR
    python3 kgbench/gen.py web --seed 1 --size 10000 --out DIR
    python3 kgbench/gen.py sf --seed 1 --size 0.01 --out DIR

`csv` writes a MIPL-style CSV plus a v5 and a v4 grammar and the options
INI that maps the CSV through both (two active sources). `web` writes the
multi-file `web_pages` parquet table and the generator's ground truth
(`truth.json`: mention triples, label triples, canonical triples). `sf`
writes the TPC-H-ish contract tables (`part`, `nation`, `supplier`, ...,
`documents`, `embeddings`) at scale factor `--size`, one parquet file per
table, that `__spark_entry__`'s queries and `oracle_sql()` read.
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONF = """[V5]
file = mipl.csv
domain = {domain}
delimiter = ;
semantics = grammar5.ini
active = True

[V4]
file = mipl.csv
domain = {domain}
delimiter = ;
semantics = grammar4.ini
active = True
"""


def gen_csv(seed: int, rows: int, out: str) -> None:
    from tests import gen_fixtures as G

    with open(os.path.join(out, "mipl.csv"), "w", newline="", encoding="utf-8") as f:
        csv.writer(f, delimiter=";").writerows(G.mipl_rows(n=rows, seed=seed))
    for name, text in (
        ("grammar5.ini", G.GRAMMAR_V5),
        ("grammar4.ini", G.GRAMMAR_V2),  # `cell` grammar: sniffed as v4
        ("conf.ini", CONF.format(domain=G.MIPL_DOMAIN)),
    ):
        with open(os.path.join(out, name), "w", encoding="utf-8") as f:
            f.write(text)


def gen_web(seed: int, pages: int, out: str) -> None:
    from kgforge.web.corpus import corpus_to_parquet, make_corpus, true_canonical_triples

    # eight files: a single small file would be one input split
    corpus_to_parquet(
        os.path.join(out, "pages"), pages, seed=seed, rows_per_file=max(1, -(-pages // 8))
    )
    # make_corpus draws the same random stream as corpus_to_parquet and
    # also returns the planted truth
    corpus = make_corpus(n_pages=pages, seed=seed)
    truth = {
        "mention_triples": sorted(corpus.mention_triples),
        "labels": sorted(corpus.labels),
        "canonical_triples": sorted(true_canonical_triples(corpus)),
    }
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f)


def gen_sf(seed: int, sf: float, out: str) -> None:
    """`tools/datagen_sf.py`'s tables with the seed passed in. That module
    draws from `np.random.default_rng(42)` (and a side stream, 4242, for
    `documents.lang` and the embeddings); here every stream it opens is
    keyed by (seed, its own constant) instead, so the table logic is reused
    unchanged and each seed gives other, reproducible data."""
    import numpy as np

    from tools import datagen_sf

    default_rng = np.random.default_rng
    np.random.default_rng = lambda stream: default_rng([seed, stream])
    try:
        tables = datagen_sf.generate(sf)
    finally:
        np.random.default_rng = default_rng
    datagen_sf.write(tables, out)


GENERATORS = {"csv": gen_csv, "web": gen_web, "sf": gen_sf}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=float, required=True, help="rows, pages or sf")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    os.makedirs(args.out, exist_ok=True)
    size = args.size if args.kind == "sf" else int(args.size)
    GENERATORS[args.kind](args.seed, size, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
