"""Seeded input generators for the pipeline benchmark.

Every generator takes a `random.Random` (or a seed) and returns plain
Python rows, so the same seed always gives the same inputs and the
program under test only ever sees the generated frames and tables.

The document shape follows the sf0.1 `documents` table of the test data
(seed 42): texts are 10..100 words (uniform), drawn uniformly from a
30-word vocabulary, with the language mix and the 20 sources below.
Those figures were measured once from that table and are fixed here,
because the benchmark may read nothing outside its checkout.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

# sf0.1 documents: vocabulary, words per doc, language mix, sources
VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast row the agg key query a scan batch"
).split()
WORDS_MIN, WORDS_MAX = 10, 100
LANG_WEIGHTS = {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148,
                "de": 0.140}
N_SOURCES = 20

# eval-set vocabulary, disjoint from VOCAB: a corpus doc shares an eval
# shingle only where a passage was planted on purpose
EVAL_VOCAB = (
    "zebra quokka axolotl wombat narwhal ocelot tapir okapi gecko "
    "lemur marmot dingo"
).split()
EVAL_WORDS = (8, 20)
CONTAM_PASSAGE_WORDS = 4  # 4 words -> 2 eval 3-shingles per planted doc

# embeddings: sf0.1 has 64-dim vectors in 10 labelled clusters, one
# vector per doc id for the first 40% of the documents
EMB_DIM = 64
EMB_CLUSTERS = 10
EMB_SHARE = 0.4
EMB_NOISE = 0.35


@dataclass
class Docs:
    """Generated rows plus the plants the output checks look for."""

    rows: list[tuple[int, str, str, str]] = field(default_factory=list)
    exact: list[tuple[int, int]] = field(default_factory=list)  # (orig, copy)
    near: list[tuple[int, int]] = field(default_factory=list)
    contaminated: list[int] = field(default_factory=list)

    def texts(self) -> dict[int, str]:
        return {r[0]: r[3] for r in self.rows}

    def text_bytes(self) -> int:
        return sum(len(r[3].encode()) for r in self.rows)


def _words(rng: random.Random) -> list[str]:
    n = rng.randint(WORDS_MIN, WORDS_MAX)
    return [VOCAB[rng.randrange(len(VOCAB))] for _ in range(n)]


def _lang(rng: random.Random) -> str:
    return rng.choices(list(LANG_WEIGHTS), list(LANG_WEIGHTS.values()))[0]


def _edit(rng: random.Random, words: list[str], n_edits: int) -> list[str]:
    out = list(words)
    for pos in rng.sample(range(len(out)), min(n_edits, len(out))):
        choices = [w for w in VOCAB if w != out[pos]]
        out[pos] = choices[rng.randrange(len(choices))]
    return out


def eval_set(rng: random.Random, n: int) -> list[str]:
    """Held-out eval texts over EVAL_VOCAB (the decontamination input)."""
    return [
        " ".join(EVAL_VOCAB[rng.randrange(len(EVAL_VOCAB))]
                 for _ in range(rng.randint(*EVAL_WORDS)))
        for _ in range(n)
    ]


def docs(
    rng: random.Random,
    first_id: int,
    n: int,
    exact_rate: float,
    near_rate: float,
    edit_words: int,
    originals: list[tuple[int, str]] | None = None,
    evals: list[str] | None = None,
    contam_rate: float = 0.0,
) -> Docs:
    """`n` docs with ids first_id.. . A share `exact_rate` are verbatim
    copies and `near_rate` are copies with `edit_words` words replaced.
    Copies take their text from `originals` (earlier batches) when
    given, else from fresh docs earlier in this call. A share
    `contam_rate` of the fresh docs carry a passage of an eval text."""
    out = Docs()
    fresh: list[tuple[int, str]] = []
    pool = originals
    for i in range(n):
        did = first_id + i
        lang = _lang(rng)
        source = f"src{rng.randrange(N_SOURCES)}"
        u = rng.random()
        src = pool if pool is not None else fresh
        if src and u < exact_rate:
            oid, text = src[rng.randrange(len(src))]
            out.exact.append((oid, did))
        elif src and u < exact_rate + near_rate:
            oid, text = src[rng.randrange(len(src))]
            text = " ".join(_edit(rng, text.split(), edit_words))
            out.near.append((oid, did))
        else:
            words = _words(rng)
            if evals and rng.random() < contam_rate:
                ev = evals[rng.randrange(len(evals))].split()
                at = rng.randrange(len(ev) - CONTAM_PASSAGE_WORDS + 1)
                cut = rng.randrange(len(words) + 1)
                words[cut:cut] = ev[at:at + CONTAM_PASSAGE_WORDS]
                out.contaminated.append(did)
            else:
                # contaminated docs never serve as copy sources, so a
                # planted copy is dropped by dedup alone
                fresh.append((did, " ".join(words)))
            text = " ".join(words)
        out.rows.append((did, lang, source, text))
    return out


def embeddings(rng: random.Random, ids: list[int]) -> list[tuple[int, list[float]]]:
    """Clustered unit-ish vectors, one per id (float32-representable)."""
    import numpy as np

    g = np.random.default_rng(rng.getrandbits(63))
    centers = g.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = g.integers(0, EMB_CLUSTERS, size=len(ids))
    vecs = centers[labels] + g.normal(
        scale=EMB_NOISE / np.sqrt(EMB_DIM), size=(len(ids), EMB_DIM)
    )
    vecs = vecs.astype(np.float32)
    return [(i, v.tolist()) for i, v in zip(ids, vecs)]


def queries(
    rng: random.Random,
    vecs: list[tuple[int, list[float]]],
    n: int,
    noise: float = 0.05,
) -> list[tuple[list[str], int, list[float]]]:
    """(terms, query_id, vector): 2-3 distinct vocabulary terms and a
    corpus vector perturbed by gaussian noise. Query ids are negative,
    so no corpus vector is excluded as the query's self-hit."""
    out = []
    for q in range(n):
        terms = rng.sample(VOCAB, rng.randint(2, 3))
        _, base = vecs[rng.randrange(len(vecs))]
        v = [float(x) + rng.gauss(0.0, noise / EMB_DIM ** 0.5) for x in base]
        out.append((terms, -(q + 1), v))
    return out


# --- World-Bank-shaped panel (the reference pipeline's input) ---

YEARS = list(range(2000, 2024))
INDICATORS = {
    "gdp_growth": ("NY.GDP.MKTP.KD.ZG", "GDP growth (annual %)"),
    "unemployment": ("SL.UEM.TOTL.ZS", "Unemployment, total (%)"),
}
# the reference-parity fixture's rates (tests/test_reference_parity.py):
# 15% of country-years missing on each side, 20% of values null
MISSING_RATE = 0.15
NULL_RATE = 0.20
MALFORMED_RATE = 0.01  # bad `date` or empty iso3 -> quarantine


def _iso3(i: int) -> str:
    a, b = divmod(i, 26 * 26)
    b, c = divmod(b, 26)
    return "".join(chr(65 + x) for x in (a, b, c))


@dataclass
class Panel:
    countries: list[str]
    # indicator -> {(iso3, year): value or None}; absent key = missing
    series: dict[str, dict[tuple[str, int], float | None]]
    malformed: dict[str, list[dict]]

    def records(self, indicator: str) -> list[dict]:
        ind_id, ind_name = INDICATORS[indicator]
        out = []
        for (iso, year), v in sorted(self.series[indicator].items()):
            out.append({
                "indicator": {"id": ind_id, "value": ind_name},
                "country": {"id": iso[:2], "value": f"Country {iso}"},
                "countryiso3code": iso,
                "date": str(year),
                "value": v,
            })
        return out + self.malformed[indicator]

    def input_bytes(self) -> int:
        return sum(len(json.dumps(self.records(i)).encode())
                   for i in INDICATORS)


def panel(rng: random.Random, n_countries: int) -> Panel:
    """Countries x 2000..2023 per indicator with missing rows, null
    values and a few malformed records. Values carry 2 decimals, so
    every 3-, 4- and 5-row mean is exact at 4 places and no engine
    meets a rounding tie."""
    countries = [_iso3(i) for i in range(n_countries)]
    series: dict = {}
    malformed: dict = {}
    for ind, (ind_id, ind_name) in INDICATORS.items():
        s = {}
        for iso in countries:
            for year in YEARS:
                if rng.random() < MISSING_RATE:
                    continue
                v = (None if rng.random() < NULL_RATE
                     else round(rng.uniform(-5.0, 15.0), 2))
                s[(iso, year)] = v
        series[ind] = s
        bad = []
        for _ in range(max(1, int(MALFORMED_RATE * len(s)))):
            iso = countries[rng.randrange(len(countries))]
            if rng.random() < 0.5:
                date, code = f"{rng.choice(YEARS)}x", iso
            else:
                date, code = str(rng.choice(YEARS)), ""
            bad.append({
                "indicator": {"id": ind_id, "value": ind_name},
                "country": {"id": iso[:2], "value": f"Country {iso}"},
                "countryiso3code": code,
                "date": date,
                "value": round(rng.uniform(-5.0, 15.0), 2),
            })
        malformed[ind] = bad
    return Panel(countries, series, malformed)


def revise(rng: random.Random, p: Panel, share: float) -> Panel:
    """A later fetch of the same panel: the same keys and null pattern,
    with a share of the non-null values revised (World Bank data is
    revised between fetches)."""
    series = {}
    for ind, s in p.series.items():
        t = dict(s)
        for k, v in s.items():
            if v is not None and rng.random() < share:
                t[k] = round(rng.uniform(-5.0, 15.0), 2)
        series[ind] = t
    return Panel(p.countries, series, p.malformed)
