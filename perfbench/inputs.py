"""Seeded inputs: corpus tables, query streams and NRT batches.

The engine only ever sees the generated rows and query strings. Rows come
from ``solr_spark.corpus.gen_doc`` over a doc-index range derived from the
seed, are written once as a parquet table, and every build reads that
table, so data generation never falls inside a timed window.
"""

from __future__ import annotations

import hashlib
import random

import pandas as pd

from solr_spark.corpus import CORPUS_SCHEMA, gen_doc

COLUMNS = ["repo", "path", "commit", "lang", "content"]

#: doc-index ranges of different seeds never overlap below this many docs
SEED_STRIDE = 1_000_000


def doc_range(seed: int, n_docs: int, offset: int = 0) -> range:
    start = SEED_STRIDE * (1 + seed) + offset
    return range(start, start + n_docs)


def _gen_batches(batches):
    for pdf in batches:
        yield pd.DataFrame([gen_doc(int(i)) for i in pdf["id"]], columns=COLUMNS)


def write_corpus(spark, docs: range, path: str) -> pd.DataFrame:
    """Generate ``docs`` with ``gen_doc`` in parallel, write them as one
    parquet table at ``path`` and return the rows (driver copy for the
    oracle)."""
    parts = max(1, spark.sparkContext.defaultParallelism)
    (
        spark.range(docs.start, docs.stop, numPartitions=parts)
        .mapInPandas(_gen_batches, schema=CORPUS_SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )
    return pd.read_parquet(path, columns=COLUMNS)


def input_bytes(rows: pd.DataFrame) -> int:
    """UTF-8 bytes of every input column: the user data the index holds."""
    return int(sum(rows[c].str.encode("utf-8").str.len().sum() for c in COLUMNS))


# ---------------------------------------------------------------------------
# query streams over the built term dictionary
# ---------------------------------------------------------------------------

#: query classes of the distinct-query stream, served in this rotation
CLASSES = ["hot1", "mid1", "rare", "zero", "and2", "or3", "lucene", "phrase"]


class TermPools:
    """Seeded draws of unused index terms, bucketed by document frequency.

    Every term is handed out once, so an engine that memoizes term
    statistics still runs the stats lookup for each query.
    """

    def __init__(self, term_df: pd.DataFrame, n_docs: int, rng: random.Random, analyze):
        self.rng = rng
        self.analyze = analyze
        self.known = set(term_df["term"])
        df = term_df.set_index("term")["df"]
        self.pools = {
            "hot": sorted(df[df >= 0.1 * n_docs].index),
            "mid": sorted(df[(df >= 0.01 * n_docs) & (df < 0.1 * n_docs)].index),
            "rare": sorted(df[df <= 3].index),
        }
        for pool in self.pools.values():
            rng.shuffle(pool)

    def take(self, pool: str) -> str:
        """An unused term of ``pool`` that analyzes back to itself."""
        terms = self.pools[pool]
        while terms:
            t = terms.pop()
            if t.isalpha() and self.analyze(t) == [t]:
                return t
        raise ValueError(f"term pool {pool!r} exhausted")

    def absent(self) -> str:
        while True:
            w = "".join(self.rng.choice("qxzjvwk") for _ in range(9))
            if not any(t in self.known for t in self.analyze(w)):
                return w


def phrase_from(rows: pd.DataFrame, rng: random.Random, analyze) -> tuple[str, list[str]]:
    """Two adjacent words of a random line of a random document whose
    analysis is exactly two tokens, so the phrase occurs in that doc."""
    while True:
        text = rows["content"].iloc[rng.randrange(len(rows))]
        lines = text.split("\n")
        words = lines[rng.randrange(len(lines))].split()
        words = [w.strip("():;.,\"'#=") for w in words]
        words = [w for w in words if w.isalpha()]
        if len(words) < 2:
            continue
        i = rng.randrange(len(words) - 1)
        phrase = f"{words[i]} {words[i + 1]}"
        toks = analyze(phrase)
        if len(toks) == 2:
            return phrase, toks


def distinct_queries(pools: TermPools, rows: pd.DataFrame, rng: random.Random, n: int) -> list[dict]:
    """``n`` queries in class rotation; no term is used twice."""
    out = []
    for i in range(n):
        cls = CLASSES[i % len(CLASSES)]
        q = {"cls": cls, "mode": "OR"}
        if cls == "hot1":
            q["text"] = pools.take("hot")
        elif cls == "mid1":
            q["text"] = pools.take("mid")
        elif cls == "rare":
            q["text"] = pools.take("rare")
        elif cls == "zero":
            q["text"] = pools.absent()
        elif cls == "and2":
            q["text"] = f"{pools.take('hot')} {pools.take('mid')}"
            q["mode"] = "AND"
        elif cls == "or3":
            q["text"] = f"{pools.take('hot')} {pools.take('mid')} {pools.take('rare')}"
        elif cls == "lucene":
            a, b, c, d = pools.take("mid"), pools.take("mid"), pools.take("hot"), pools.take("mid")
            q["text"] = f"({a} OR {b}) AND {c} -{d}"
            q["terms"] = [a, b, c, d]
        else:
            q["text"], q["tokens"] = phrase_from(rows, rng, pools.analyze)
        out.append(q)
    return out


def or_long_query(term_df: pd.DataFrame, threshold: int) -> tuple[str, int]:
    """The shortest OR of the hottest terms whose Σdf exceeds ``threshold``.
    Returns (text, Σdf)."""
    ordered = term_df.sort_values(["df", "term"], ascending=[False, True])
    ordered = ordered[ordered["term"].str.isalpha()]
    terms, total = [], 0
    for term, df in zip(ordered["term"], ordered["df"]):
        if total > threshold:
            break
        terms.append(term)
        total += int(df)
    if total <= threshold:
        raise ValueError(f"index too small: Σdf of all terms is {total} <= {threshold}")
    return " ".join(terms), total


# ---------------------------------------------------------------------------
# NRT batches
# ---------------------------------------------------------------------------


def nrt_batch(live: pd.DataFrame, docs: range, update_frac: float, version: int,
              rng: random.Random) -> tuple[pd.DataFrame, list[str]]:
    """New files ``docs``; ``update_frac`` of them become new commits of
    existing live ``(repo, path)``. Returns (rows, superseded commits)."""
    rows = pd.DataFrame([gen_doc(i) for i in docs], columns=COLUMNS)
    n_upd = int(round(update_frac * len(rows)))
    targets = rng.sample(range(len(live)), n_upd)
    superseded = []
    for j, t in enumerate(targets):
        old = live.iloc[t]
        rows.loc[j, "repo"] = old["repo"]
        rows.loc[j, "path"] = old["path"]
        rows.loc[j, "commit"] = hashlib.sha1(
            f"{old['repo']}|{old['path']}|v{version}".encode()
        ).hexdigest()
        superseded.append(old["commit"])
    return rows, superseded


#: query shapes of the NRT search stream: terms joined by AND are searched
#: in AND mode, the others in OR mode
NRT_SHAPES = ("hot", "mid", "hot AND mid", "hot OR mid OR rare")


def nrt_text(pools: TermPools, shape: str) -> tuple[str, str]:
    """A (text, mode) pair of ``shape`` from unused terms."""
    mode = "AND" if " AND " in shape else "OR"
    return " ".join(pools.take(p) for p in shape.split(f" {mode} ")), mode


def repeated_stream(texts: list, repeats: tuple[int, ...], rng: random.Random) -> list:
    """``texts[i]`` served ``repeats[i]`` times, in seeded order: every
    stream has the same query shapes and the same repeat share."""
    stream = [t for t, n in zip(texts, repeats) for _ in range(n)]
    rng.shuffle(stream)
    return stream
