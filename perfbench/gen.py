"""Seeded benchmark inputs, cached as parquet per (workload, seed, size,
generator source).

Every table is a pure function of ``seed`` and the workload's size. The
engine only ever sees the parquet files written here; the planted truth
(curation survivors) and the input digest ride next to them in
``meta.json``.

- ``backfill_checkpointed``: a ``fixtures.gen_transcripts`` background
  plus a few mega-conversations that hold most of the turns, with both
  side tables from ``fixtures.gen_side_*``. The background is cut to an
  exact turn count (the Zipf draws ``gen_transcripts`` makes are
  prefix-stable, so the conversation count is found from them first),
  so every seed has the same size; otherwise seed-to-seed input size
  would swamp the run-to-run spread the benchmark bounds.
- ``curation``: a document corpus in the layout of
  ``tools/curation_bench.generate`` (exact duplicates, near-duplicates,
  junk and a contaminating benchmark table at its shares), with
  heavy-tailed near-duplicate cluster sizes, some near-duplicates
  chained (so connected components needs more than one round) and a
  few German documents added. The generator records which ``doc_id``
  survive the full chain.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from nuclei_feature_extraction_spark import fixtures

# Sizes are chosen so one pass takes a few seconds on local[4]: the
# benchmark repeats passes inside a fixed window and reports medians.
SIZES = {
    "backfill_checkpointed": {"mega": (100_000, 30_000), "background": 20_000},
    "curation": {"docs": 8_000},
}

_ZIPF_CAP = 20_000  # fixtures._conv_lengths caps conversations here

# Common words; the engine's lang-id must call 40 of these 'en' (or 'de').
EN_WORDS = (
    "the of and to in is was for that it on as with he be at by this have "
    "from or had not but what all were when we there can an your which "
    "their said if do will each about how up out them then she many some "
    "so these would other into has more her two like him see time could "
    "make than first been its who now people my made over did down only "
    "way find use may water long little very after words called just where "
    "most know get through back much before go good new write our used me "
    "man too any day same right look think also around another came come "
    "work three word must because does part even place well such here take "
    "why things help put years different away again off went old number "
    "great tell men say small every found still between name should home "
    "big give air line set own under read last never us left end along "
    "while might next sound below saw something thought both few those "
    "always show large often together asked house world going want school "
    "important until form food keep children feet land side without boy "
    "once animals life enough took sometimes four head above kind began "
    "almost live page got earth need far hand high year mother light"
).split()
DE_WORDS = (
    "der die und in den von zu das mit sich des auf für ist im dem nicht "
    "ein eine als auch es an werden aus er hat dass sie nach wird bei "
    "einer um am sind noch wie einem über einen so zum war haben nur oder "
    "aber vor zur bis mehr durch man sein wurde sei hatte kann gegen vom "
    "können schon wenn habe seine ihre dann unter wir soll ich eines jahr "
    "zwei jahren diese dieser wieder keine seiner worden will zwischen "
    "immer was sagte gibt alle diesem seit muss doch jetzt drei neue damit "
    "bereits da ab ihr ihrer sowie weil beim wo sehr zwar hier heute"
).split()

DOC_TOKENS = 40     # plain and clustered documents
CHAIN_TOKENS = 12   # chained documents: only links within 2 steps verify
CURATION_ARGS = {
    "fuzzy_threshold": 0.8,
    "contamination_threshold": 0.5,
    "min_quality": 0.7,
    "langs": ["en"],
    "split_weights": ["train=0.98", "val=0.01", "test=0.01"],
    "pack_budget": 2048,
}


def size_key(workload: str) -> str:
    """Cache key of a workload's inputs: its size plus a hash of this
    file, so an edit to the generators never reuses stale inputs or
    stale planted truth."""
    with open(__file__, "rb") as fh:
        src = hashlib.sha256(fh.read()).hexdigest()[:10]
    return "-".join(
        [f"{k}{'x'.join(map(str, v)) if isinstance(v, tuple) else v}"
         for k, v in sorted(SIZES[workload].items())] + [f"g{src}"]
    )


def frame_digest(*frames: pd.DataFrame) -> str:
    """Content digest of generated frames (row order and dtypes count)."""
    h = hashlib.sha256()
    for df in frames:
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


# ------------------------------------------------------------ transcripts


def convs_for_turns(turns: int, seed: int) -> int:
    """Smallest conversation count whose ``gen_transcripts`` table holds
    at least ``turns`` rows for this seed."""
    n = max(64, turns // 100)
    while True:
        lengths = np.minimum(np.random.default_rng(seed).zipf(1.5, n), _ZIPF_CAP)
        hit = np.flatnonzero(np.cumsum(lengths) >= turns)
        if hit.size:
            return int(hit[0]) + 1
        n *= 2


def backfill_transcripts(seed: int) -> pd.DataFrame:
    size = SIZES["backfill_checkpointed"]
    turns = size["background"]
    # rows come conversation by conversation: the cut keeps a prefix of
    # the last conversation
    bg = fixtures.gen_transcripts(convs_for_turns(turns, seed), seed).iloc[:turns]
    megas = [
        _conversation(f"mega{k:02d}", n, np.random.default_rng([seed, k]))
        for k, n in enumerate(size["mega"])
    ]
    return pd.concat([bg, *megas], ignore_index=True)


def _conversation(conv_id: str, n: int, rng: np.random.Generator) -> pd.DataFrame:
    """One conversation with ``fixtures.gen_transcripts``' row model:
    alternating roles with 20% noise, log-normal gaps, deterministic
    text, a tool name on tool turns."""
    turn_idx = np.arange(n, dtype=np.int32)
    base = np.where(turn_idx % 2 == 0, 0, 1)
    role = fixtures.ROLES[
        np.where(rng.random(n) < 0.2, rng.integers(0, 4, n), base)
    ]
    gaps = np.clip(rng.lognormal(3.2, 1.4, n), 1.0, 4 * 3600.0)
    gaps[0] = 0.0
    start = int(rng.integers(fixtures._EPOCH_LO, fixtures._EPOCH_HI))
    ts = (start * 1_000_000 + np.cumsum((gaps * 1e6).astype(np.int64))).astype(
        "datetime64[us]"
    )
    pad = (turn_idx.astype(np.int64) * 7919) % 200 + 5
    text = [f"{conv_id}-t{i}-" + "x" * int(p) for i, p in zip(turn_idx, pad)]
    tool = np.where(role == "tool", fixtures.TOOLS[rng.integers(0, 4, n)], None)
    return pd.DataFrame(
        {"conv_id": conv_id, "turn_idx": turn_idx, "role": role,
         "text": text, "tool": tool, "ts": ts}
    )


def sample_convs(tr: pd.DataFrame, seed: int) -> dict:
    """Conversations the correctness check compares: the smallest
    mega-conversation, the longest ordinary one and two random ordinary
    ones (the last three also against the composable parity spec)."""
    sizes = tr["conv_id"].value_counts()
    is_mega = sizes.index.str.startswith("mega")
    smallest_mega = str(sizes[is_mega].idxmin())
    plain = sizes[~is_mega]
    longest = str(plain.idxmax())
    rest = sorted(c for c in plain.index if c != longest)
    rng = np.random.default_rng([seed, 11])
    # a seed whose first Zipf draw hits the cap has a single ordinary
    # conversation
    picks = rng.choice(len(rest), min(2, len(rest)), replace=False)
    spec = [longest] + [rest[i] for i in picks]
    return {"sample_convs": [smallest_mega] + spec, "spec_convs": spec}


def write_transcript_set(out: str, tr: pd.DataFrame, seed: int) -> str:
    profile = fixtures.gen_side_user_profile(tr, seed)
    config = fixtures.gen_side_model_config(seed)
    # small row groups so the scan splits across all cores
    tr.to_parquet(
        os.path.join(out, "transcripts.parquet"), index=False,
        row_group_size=65_536,
    )
    profile.to_parquet(os.path.join(out, "side_user_profile.parquet"), index=False)
    config.to_parquet(os.path.join(out, "side_model_config.parquet"), index=False)
    return frame_digest(tr, profile, config)


# --------------------------------------------------------------- curation


def gen_curation(seed: int, n_docs: int) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """Corpus of exactly ``n_docs`` documents, benchmark table and planted
    truth.

    The shares of the kinds ``tools/curation_bench.generate`` also plants
    are its shares (one doc of each per 40): 2.5% exact copies, 2.5%
    near-duplicates, 2.5% junk, and a benchmark table holding the text
    of one plain document per 200 groups of 40. Added to that layout:

    - near-duplicates come in clusters of Zipf(2) size (up to 40 members
      on a leader, each member appending one word to the leader: pairwise
      3-gram Jaccard >= 0.95), far below the LSH bucket cap;
    - a fifth of the near-duplicate share is chains of 12-word documents,
      each appending one word to the previous one: only links up to two
      steps apart reach Jaccard 0.8, so connected components needs more
      than one round;
    - 1% German documents, so the language filter has rows to drop.

    Everything else is plain English documents of 40 random common
    words. Ids are assigned in generation order, then rows are shuffled,
    so every group's first member holds its minimum id.
    """
    rng = np.random.default_rng([seed, 7])
    en = np.array(EN_WORDS)
    texts: list[str] = []
    kind: list[str] = []
    group: list[int] = []  # fuzzy component (leader index), -1 = own

    def words(n: int) -> list[str]:
        return list(en[rng.integers(0, len(en), n)])

    def add(text: str, k: str, g: int = -1) -> int:
        texts.append(text)
        kind.append(k)
        group.append(g)
        return len(texts) - 1

    def split(budget: int, draw) -> list[int]:
        """Group sizes (members beyond the leader) drawn until ``budget``
        members are placed."""
        out = []
        while budget > 0:
            out.append(int(min(draw(), budget)))
            budget -= out[-1]
        return out

    share = n_docs // 40  # one document of each recorded kind per 40
    chain_members = share // 5
    clusters = split(share - chain_members, lambda: min(rng.zipf(2.0), 40))
    chains = split(chain_members, lambda: rng.integers(6, 17))
    n_exact, n_junk, n_german = share, share, n_docs // 100
    n_plain = (n_docs - n_exact - n_junk - n_german
               - sum(clusters) - len(clusters) - sum(chains) - len(chains))

    plain = [add(" ".join(words(DOC_TOKENS)), "plain") for _ in range(n_plain)]
    for size in clusters:
        lead_words = words(DOC_TOKENS)
        lead = add(" ".join(lead_words), "cluster")
        group[lead] = lead
        for e in rng.choice(len(en), size, replace=False):
            add(" ".join(lead_words + [en[e]]), "cluster", lead)
    for length in chains:
        cur = words(CHAIN_TOKENS)
        lead = add(" ".join(cur), "chain")
        group[lead] = lead
        for _ in range(length):
            cur = cur + words(1)
            add(" ".join(cur), "chain", lead)
    for src in rng.choice(plain, n_exact, replace=False):
        add(texts[src], "exact_dup")
    for _ in range(n_junk):
        add("!?!? " + "".join(rng.choice(list("0123456789abcdef"), 8)), "junk")
    de = np.array(DE_WORDS)
    for _ in range(n_german):
        add(" ".join(de[rng.integers(0, len(de), DOC_TOKENS)]), "german")
    contaminated = rng.choice(plain, max(share // 200, 1), replace=False)

    n = len(texts)
    kinds = np.array(kind)
    grp = np.array(group)
    # kept: the first copy of each text, the leader of each near-duplicate
    # component, and nothing junk, German or contaminated
    survive = np.isin(kinds, ("plain", "cluster", "chain"))
    survive &= (grp < 0) | (grp == np.arange(n))
    survive[contaminated] = False
    # doc_id is the generation index; only the physical row order is shuffled
    order = rng.permutation(n)
    docs = pd.DataFrame(
        {"doc_id": order.astype(np.int64), "text": np.array(texts, dtype=object)[order]}
    )
    bench = pd.DataFrame(
        {"bench_id": np.arange(len(contaminated), dtype=np.int64),
         "text": [texts[i] for i in contaminated]}
    )
    truth = {
        "survivors": [int(i) for i in np.flatnonzero(survive)],
        "planted": {k: int((kinds == k).sum()) for k in sorted(set(kind))},
        "contaminated": int(len(contaminated)),
    }
    return docs, bench, truth


# ------------------------------------------------------------------ cache


def ensure_inputs(root: str, workload: str, seed: int) -> dict:
    """Generate-or-reuse the inputs of one (workload, seed, size,
    generator source) and return their metadata (paths, rows, digest, generation seconds)."""
    out = os.path.join(root, f"{workload}-s{seed}-{size_key(workload)}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta["generated_s"] = 0.0
        return meta
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    meta: dict = {"workload": workload, "seed": seed, "dir": out}
    if workload == "curation":
        docs, bench, truth = gen_curation(seed, SIZES["curation"]["docs"])
        docs.to_parquet(os.path.join(tmp, "docs.parquet"), index=False,
                        row_group_size=2_048)
        bench.to_parquet(os.path.join(tmp, "benchmark.parquet"), index=False)
        warm, _, _ = gen_curation(seed + 1_000_003, 300)
        warm.to_parquet(os.path.join(tmp, "warmup_docs.parquet"), index=False)
        meta.update(rows=len(docs), digest=frame_digest(docs, bench),
                    truth=truth)
    else:
        tr = backfill_transcripts(seed)
        meta.update(rows=len(tr), digest=write_transcript_set(tmp, tr, seed),
                    **sample_convs(tr, seed))
    meta["generated_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return meta
