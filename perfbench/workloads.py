"""The workloads: their inputs, their operations and their checks.

A workload makes its inputs from the seed and lists one ROUND of
operations. An operation (op) is the unit a user waits on; it is made
of one or more CALLS, each one engine call that builds a DataFrame and
fetches its whole result.

- ``cohort_serve``: one op is one cohort request (one call).
- ``media_decode``: one op is one pass of six registered queries (six
  calls).

Every result is checked against an answer computed outside the Spark
engine. Answers are computed after the timed phases, so the engine
modules the timed set-up imports are imported there first.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

import numpy as np

import datagen
import oracle

COHORT_SF = 0.1
MEDIA_DOCS = 100
# The media queries size each blob from residues of its doc id (modulo
# 2, 3, 4, 13, 15, 19, 21, 23, 29, 37 and 200). The seed picks where the
# id range starts, a multiple of 200, which keeps the format choice
# (doc_id % 4) and the WAV sample counts (doc_id % 200 + 50) the same
# for every seed. The other moduli do not divide 200, so the seed shifts
# the mix of blob sizes slightly.
MEDIA_ID_STRIDE = 200

MEDIA_QUERIES = [
    "l8n_media_dispatch",
    "l8j_png_decode",
    "l8k_gif_decode",
    "l8l_jpeg_decode",
    "l8m_tiff_decode",
    "l8p_flac_decode",
]
# One cohort round = six fixed requests (CNF JSON, answer kind): 1-3
# disjunctions of 1-2 atoms, with and without an exclusion; two of six
# are faceted. The 18 atoms use eight atom forms (subject segments /
# min balance / balance range, order priorities / date window /
# statuses + min total, lineitem return flag / quantity range). The
# requests do not depend on the seed: a request's values set how many
# rows it selects and so its work, and with seeded values CPU per
# request differed by nearly 2x between seeds. The seed changes the
# tables the requests run against.
COHORT_REQUESTS = [
    ({"include": [[{"type": "order", "priorities": ["2-HIGH"]}]]}, "count"),
    ({"include": [[{"type": "order", "date_from": "1996-12-01", "date_to": "1997-07-01"}],
                  [{"type": "order", "statuses": ["F", "O"], "min_total": 127316.25},
                   {"type": "lineitem", "returnflags": ["N"]}]],
      "exclude": [{"type": "subject", "segments": ["AUTOMOBILE", "MACHINERY"]}]}, "count"),
    ({"include": [[{"type": "subject", "min_balance": -42.56},
                   {"type": "order", "priorities": ["3-MEDIUM", "4-NOT SPECIFIED"]}]],
      "exclude": [{"type": "subject", "min_balance": -699.65, "max_balance": 3084.09}]},
     "facets"),
    ({"include": [[{"type": "lineitem", "min_quantity": 11, "max_quantity": 13}],
                  [{"type": "order", "date_from": "1999-12-01", "date_to": "2001-01-01"}],
                  [{"type": "subject", "segments": ["BUILDING"]}]]}, "count"),
    ({"include": [[{"type": "order", "statuses": ["F", "O"], "min_total": 301738.62},
                   {"type": "subject", "min_balance": 4818.91, "max_balance": 7607.66}],
                  [{"type": "lineitem", "returnflags": ["R"]},
                   {"type": "order", "date_from": "1996-02-01", "date_to": "1997-10-01"}]]},
     "count"),
    ({"include": [[{"type": "subject", "min_balance": 4002.86}],
                  [{"type": "order", "priorities": ["4-NOT SPECIFIED"]}]],
      "exclude": [{"type": "order", "statuses": ["O", "P"], "min_total": 45618.01}]}, "facets"),
]


@dataclass
class Call:
    key: str  # identifies the expected answer
    label: str  # name under which per-layer metrics are reported
    request: str | None = None  # cohort request as wire text


@dataclass
class Workload:
    name: str
    data_dir: str
    tables: list[str]
    round: list[list[Call]]
    inputs: dict[str, Any] = field(default_factory=dict)
    # Rounds run before the measured phase; they fill the catalog caches
    # and let the JIT compile the hot paths.
    warmup_rounds: int = 1
    # The measured phase runs at least this many rounds, however short
    # --seconds is: a median over fewer ops moves with host noise.
    min_rounds: int = 1

    def answers(self) -> dict[str, Any]:
        raise NotImplementedError

    def check(self, key: str, result: Any, expected: dict[str, Any]) -> bool:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# cohort_serve
# ---------------------------------------------------------------------------
class CohortServe(Workload):
    def __init__(self, data_dir: str, seed: int):
        rows = datagen.star_tables(data_dir, COHORT_SF, seed)
        super().__init__(
            "cohort_serve",
            data_dir,
            ["customer", "orders", "lineitem"],
            [
                [Call(f"r{i}", f"cohort_{kind}", json.dumps(req))]
                for i, (req, kind) in enumerate(COHORT_REQUESTS)
            ],
            inputs={"rows": rows, "requests": len(COHORT_REQUESTS)},
            # a second round is cheap here (~6 s) and keeps the slower
            # first warm round out of the measured phase
            warmup_rounds=2,
            # 18 requests: the median is taken over three of each shape
            min_rounds=3,
        )

    def answers(self) -> dict[str, Any]:
        con = oracle.connect(self.data_dir, self.tables)
        try:
            return {
                f"r{i}": (kind, oracle.answer(con, req))
                for i, (req, kind) in enumerate(COHORT_REQUESTS)
            }
        finally:
            con.close()

    def check(self, key: str, result: Any, expected: dict[str, Any]) -> bool:
        kind, ans = expected[key]
        if kind == "count":
            return [tuple(r) for r in result] == [(ans["count"],)]
        facets = [(r[0], int(r[1])) for r in result]
        return facets == ans["facets"] and sum(n for _, n in facets) == ans["count"]


# ---------------------------------------------------------------------------
# media_decode
# ---------------------------------------------------------------------------
class MediaDecode(Workload):
    """One op = one pass over the six media queries."""

    def __init__(self, data_dir: str, seed: int):
        first = MEDIA_ID_STRIDE * int(np.random.default_rng([seed, 2]).integers(0, 50))
        datagen.documents(data_dir, MEDIA_DOCS, seed, first_id=first)
        super().__init__(
            "media_decode",
            data_dir,
            ["documents"],
            [[Call(q, q) for q in MEDIA_QUERIES]],
            inputs={"documents": MEDIA_DOCS, "first_doc_id": first},
            # the first measured pass still runs warming code
            min_rounds=2,
        )

    def answers(self) -> dict[str, Any]:
        from lens_warehouse_spark.registry import ORACLES

        con = oracle.connect(self.data_dir, self.tables)
        try:
            return {q: con.execute(ORACLES[q]).df() for q in MEDIA_QUERIES}
        finally:
            con.close()

    def check(self, key: str, result: Any, expected: dict[str, Any]) -> bool:
        from tools.check_parity import compare

        problems = compare(key, result, expected[key])
        return not [p for p in problems if not p.startswith("dtype drift")]


WORKLOADS = {
    "cohort_serve": CohortServe,
    "media_decode": MediaDecode,
}
