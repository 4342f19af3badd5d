"""Seeded synthetic `files` corpus with planted duplicate clusters.

Stands in for the reference's gold corpora (GERDAQ / ERD2014 datasets,
ref: learn/GenerateTrainingAndTest.java:144-175): a deterministic
generator that emits the Iceberg-style base table
``files(repo, path, commit, lang, content)`` (BASELINE.json
input_hint), the pairwise gold standard ``labeled_pairs`` and
``clusters_gold`` (FIXTURES.md §1).

Duplicate clusters are planted by mutating a seed file per cluster:
whitespace edits, comment edits, identifier rename, small block
insert/delete. Cluster sizes follow a Zipf-ish law and a fraction of
paths are globally hot ("README.md") to exercise the blocking-skew
cap/salting path.
"""

from __future__ import annotations

import hashlib
import itertools

import numpy as np
import pandas as pd

_LANGS = ["py", "java", "js", "go", "md"]
_HOT_PATHS = ["README.md", "setup.py", "Makefile", "index.js"]

_WORDS = (
    "alpha beta gamma delta epsilon zeta theta kappa sigma omega "
    "vector matrix tensor buffer stream cursor window batch shard "
    "merge split filter reduce collect index offset cache queue "
    "parse encode decode hash token record block pair score"
).split()

_COMMENT = {"py": "#", "java": "//", "js": "//", "go": "//", "md": ">"}


def _ident(rng: np.random.Generator) -> str:
    return "_".join(rng.choice(_WORDS, size=2, replace=True))


def _base_content(rng: np.random.Generator, lang: str, n_lines: int) -> list[str]:
    c = _COMMENT[lang]
    lines = [f"{c} module {_ident(rng)} generated fixture"]
    for _ in range(n_lines):
        kind = rng.integers(0, 4)
        a, b, d = _ident(rng), _ident(rng), _ident(rng)
        if kind == 0:
            lines.append(f"def {a}({b}, {d}):" if lang == "py" else f"function {a}({b}, {d}) {{")
        elif kind == 1:
            lines.append(f"    {a} = {b} + {d} * {int(rng.integers(1, 99))}")
        elif kind == 2:
            lines.append(f"    return {a}({b}, {d})")
        else:
            lines.append(f"{c} {a} handles {b} for {d}")
    return lines


def _mutate(rng: np.random.Generator, lines: list[str], lang: str, strength: int) -> list[str]:
    """Apply `strength` small mutations: whitespace, comment, rename,
    line insert/delete."""
    out = list(lines)
    for _ in range(strength):
        op = rng.integers(0, 4)
        if op == 0 and out:  # whitespace edit
            i = int(rng.integers(0, len(out)))
            out[i] = out[i] + " "
        elif op == 1:  # comment insert
            i = int(rng.integers(0, len(out) + 1))
            out.insert(i, f"{_COMMENT[lang]} note {_ident(rng)}")
        elif op == 2 and out:  # identifier rename (token-level)
            i = int(rng.integers(0, len(out)))
            toks = out[i].split(" ")
            j = int(rng.integers(0, len(toks)))
            if toks[j] and toks[j][0].isalpha():
                toks[j] = _ident(rng)
            out[i] = " ".join(toks)
        elif op == 3 and len(out) > 3:  # line delete
            i = int(rng.integers(0, len(out)))
            del out[i]
    return out


def _gen_cluster_rows(
    seed: int,
    ci: int,
    n_lines: int,
    mutation_strength: int,
    singleton_fraction: float,
    hot_path_fraction: float,
) -> list[tuple[str, str, str, str, str, int]]:
    """One cluster's rows, deterministically seeded by (seed, ci) so
    generation parallelizes over clusters with identical output
    regardless of partitioning."""
    rng = np.random.default_rng([seed, ci])
    if rng.random() < singleton_fraction:
        size = 1
    else:
        size = min(2 + int(rng.zipf(2.2)), 24)
    lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
    base = _base_content(rng, lang, n_lines)
    stem = _ident(rng)
    hot = rng.random() < hot_path_fraction
    out = []
    for m in range(size):
        repo = f"org{int(rng.integers(0, 50))}/proj{int(rng.integers(0, 200))}"
        if hot:
            path = _HOT_PATHS[int(rng.integers(0, len(_HOT_PATHS)))]
        else:
            sub = ["src", "lib", "core", "util"][int(rng.integers(0, 4))]
            path = f"{sub}/{stem}.{lang}"
        commit = hashlib.sha1(f"{seed}:{ci}:{m}".encode()).hexdigest()
        content = "\n".join(
            base if m == 0 else _mutate(rng, base, lang, mutation_strength)
        )
        out.append((repo, path, commit, lang, content, ci))
    return out


def generate_files_corpus_spark(
    spark,
    n_clusters: int,
    n_lines: int = 30,
    mutation_strength: int = 3,
    singleton_fraction: float = 0.5,
    hot_path_fraction: float = 0.05,
    seed: int = 42,
):
    """Distributed corpus generation: clusters fan out over executors
    via mapInPandas (per-cluster rng → partitioning-independent
    output). Returns a DataFrame(files + cluster_idx)."""
    import pandas as pd  # noqa: F811

    def gen(batches):
        for pdf in batches:
            rows = []
            for ci in pdf["id"]:
                rows.extend(
                    _gen_cluster_rows(
                        seed, int(ci), n_lines, mutation_strength,
                        singleton_fraction, hot_path_fraction,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["repo", "path", "commit", "lang", "content", "cluster_idx"],
            )

    cpus = spark.sparkContext.defaultParallelism
    return (
        spark.range(n_clusters)
        .repartition(max(cpus * 4, 8))
        .mapInPandas(
            gen,
            schema="repo string, path string, commit string, lang string, "
            "content string, cluster_idx long",
        )
    )


def generate_files_corpus(
    n_clusters: int = 100,
    singleton_fraction: float = 0.5,
    mutation_strength: int = 3,
    hot_path_fraction: float = 0.05,
    n_lines: int = 30,
    seed: int = 42,
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Returns (files, labeled_pairs, clusters_gold) pandas frames.

    files: repo, path, commit, lang, content  (+ record_id, cluster id
    live only in clusters_gold — derived ids use the same recipe as the
    Spark side: xxhash64 is applied later; here we key gold by
    (repo,path,commit) and join on the Spark side).
    """
    rng = np.random.default_rng(seed)
    rows = []
    gold = []  # (repo, path, commit, cluster_idx)
    cluster_sizes = []
    for ci in range(n_clusters):
        if rng.random() < singleton_fraction:
            size = 1
        else:
            # Zipf-ish heavy tail, capped
            size = min(2 + int(rng.zipf(2.2)), 24)
        cluster_sizes.append(size)
        lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
        base = _base_content(rng, lang, n_lines)
        stem = _ident(rng)
        hot = rng.random() < hot_path_fraction
        for m in range(size):
            repo = f"org{int(rng.integers(0, 50))}/proj{int(rng.integers(0, 200))}"
            if hot:
                path = _HOT_PATHS[int(rng.integers(0, len(_HOT_PATHS)))]
            else:
                sub = ["src", "lib", "core", "util"][int(rng.integers(0, 4))]
                path = f"{sub}/{stem}.{lang}"
            commit = hashlib.sha1(f"{seed}:{ci}:{m}".encode()).hexdigest()
            content = "\n".join(
                base if m == 0 else _mutate(rng, base, lang, mutation_strength)
            )
            rows.append((repo, path, commit, lang, content))
            gold.append((repo, path, commit, ci))

    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    gold_df = pd.DataFrame(gold, columns=["repo", "path", "commit", "cluster_idx"])

    # labeled pairs: all intra-cluster positives + hard negatives
    # (same-path different-cluster pairs, i.e. what blocking will co-block)
    pos = []
    by_cluster: dict[int, list[int]] = {}
    for idx, (_, _, _, ci) in enumerate(gold):
        by_cluster.setdefault(ci, []).append(idx)
    for ci, members in by_cluster.items():
        for i, j in itertools.combinations(members, 2):
            pos.append((i, j, True))

    neg = []
    by_path: dict[str, list[int]] = {}
    for idx, (_, path, _, _) in enumerate(gold):
        by_path.setdefault(path, []).append(idx)
    for path, members in by_path.items():
        if len(members) < 2:
            continue
        # sample up to 3*size cross-cluster pairs per path
        cand = [
            (i, j)
            for i, j in itertools.combinations(members, 2)
            if gold[i][3] != gold[j][3]
        ]
        if len(cand) > 3 * len(members):
            sel = rng.choice(len(cand), size=3 * len(members), replace=False)
            cand = [cand[k] for k in sel]
        neg.extend((i, j, False) for i, j in cand)

    def key(idx: int) -> tuple[str, str, str]:
        r = gold[idx]
        return (r[0], r[1], r[2])

    pair_rows = []
    for i, j, is_match in pos + neg:
        li, ri = key(i), key(j)
        pair_rows.append(li + ri + (is_match,))
    labeled = pd.DataFrame(
        pair_rows,
        columns=[
            "l_repo", "l_path", "l_commit",
            "r_repo", "r_path", "r_commit", "is_match",
        ],
    )
    return files, labeled, gold_df
