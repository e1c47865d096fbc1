"""Seeded input generators. Each returns an ``Inputs``: the files the
engine will read (name -> bytes), the op schedule ``run.py`` replays, and
the input properties it measured while generating.

Everything is drawn from one ``numpy.random.Generator(PCG64(seed))`` per
workload and serialised deterministically, so the same seed yields
byte-identical files (``Inputs.digest`` is what the run compares).
Generation never touches Spark: the engine only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import json
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)

# Bio topics: each is a keyword the interest categorizer's taxonomy
# recognises. Neutral words and names were chosen to contain none of the
# taxonomy's keywords as substrings, so a bio hits a category exactly
# when a topic word was planted in it.
TOPIC_WORDS = (
    "fashion", "style", "tech", "software", "food", "chef", "football",
    "fitness", "gym", "travel", "artist", "music", "photography",
    "beauty", "gaming", "startup", "movie", "teacher", "science",
    "politics", "lifestyle", "memes",
)
NEUTRAL_WORDS = (
    "sunny quiet river blue green morning coffee tea garden window cloud "
    "lake forest dog cat bird city street home family friend weekend "
    "summer winter spring autumn ocean beach sunset book reader poet walk "
    "bike hike nature tree flower moon star night dream hope peace kind "
    "smile happy joy calm slow simple honest curious brave proud grateful "
    "mom dad sister brother neighbor village town coast island valley"
).split()
FIRST_NAMES = (
    "anna ben carl dora emil fred greta hugo ivy jon kim leo mona nick "
    "olga pete quinn rosa sven tom uma vera will xena yuri zoe"
).split()


@dataclass
class Inputs:
    files: dict[str, bytes]
    schedule: dict
    properties: dict = field(default_factory=dict)

    def digest(self) -> str:
        h = hashlib.sha256()
        for name in sorted(self.files):
            h.update(name.encode())
            h.update(hashlib.sha256(self.files[name]).digest())
        h.update(json.dumps(self.schedule, sort_keys=True).encode())
        return h.hexdigest()

    def write(self, root) -> None:
        for name, data in self.files.items():
            path = root / name
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_bytes(data)

    @property
    def total_bytes(self) -> int:
        return sum(len(b) for b in self.files.values())


def _parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def _zipf_degree(rng, size: int, a: float, cap: int) -> np.ndarray:
    """Zipf(a) degrees capped at ``cap``, taken at the distribution's
    quantiles and shuffled: the shape is Zipf, but the total is the same
    for every seed, so batch sizes do not vary from run to run."""
    k = np.arange(1, cap + 1)
    cdf = np.cumsum(k ** -a)
    cdf /= cdf[-1]
    deg = k[np.searchsorted(cdf, (np.arange(size) + 0.5) / size)]
    return rng.permutation(deg)


# -- graph_ingest ----------------------------------------------------------

CELEB_ID = "1000000"
CELEB_NAME = "celebrity"
INIT_USERS = 2_000        # users in batch 0, the initial load
BATCH_USERS = 500         # new users landed per batch
ENQUEUE_PER_BATCH = 3     # users the scheduler enqueues per batch
RECIPROCITY = 0.3         # share of a user's followees that follow back
CELEB_FOLLOW_P = 0.3      # share of new users following the celebrity
CELEB_BACK_P = 0.25       # share of those the celebrity follows back
MALFORMED_P = 0.01        # share of profile lines truncated or nameless
KEYWORD_P = 0.6           # share of bios with a category keyword
DUP_EDGE_P = 0.02         # share of edge rows re-delivered in their file


def graph_inputs(seed: int, batches: int) -> Inputs:
    """Profiles as JSON lines and follower/following edges as CSV, one
    file of each per batch; batch 0 is the initial load.

    Out-degrees are Zipf(1.8) capped at 300; targets are drawn with a
    cubic bias toward early (popular) users; a share ``RECIPROCITY`` of
    each user's followees follow back; one celebrity (``CELEB_ID``) is
    followed by ``CELEB_FOLLOW_P`` of new users and follows back
    ``CELEB_BACK_P`` of them; ~``MALFORMED_P`` of profile lines are
    truncated or miss ``username``; ``DUP_EDGE_P`` of edge rows are
    re-delivered within their file."""
    rng = np.random.default_rng(seed)
    files: dict[str, bytes] = {}
    enqueue: list[list[str]] = []
    next_uid = int(CELEB_ID) + 1
    n_users = 1  # the celebrity is user 0 of the population
    edge_id = 0
    counts = {"profiles": 0, "malformed": 0, "keyword": 0, "following": 0,
              "reciprocal": 0, "edge_rows": 0, "celeb_edge_rows": 0,
              "dup_rows": 0}
    # per population index: valid profile with a topic word in its bio
    # (what the categorizer can turn into an interest row)
    categorizable = [True]  # the celebrity's bio names music and movies
    for b in range(batches):
        k = INIT_USERS if b == 0 else BATCH_USERS
        day = EPOCH + dt.timedelta(days=b + 1)
        stamp = day.strftime("%Y-%m-%d %H:%M:%S")
        uids = np.arange(next_uid, next_uid + k)
        next_uid += k
        lines = []
        if b == 0:
            lines.append(json.dumps({
                "user_id": CELEB_ID, "username": CELEB_NAME,
                "full_name": "famous person", "bio": "music and movie star",
                "profile_pic_url": "https://img.example/celebrity.jpg",
                "follower_count": 0, "following_count": 0,
                "is_private": False}))
        r_kw = rng.random(k)
        r_bad = rng.random(k)
        r_bad_kind = rng.random(k)
        topic = rng.integers(0, len(TOPIC_WORDS), k)
        neutral = rng.integers(0, len(NEUTRAL_WORDS), (k, 4))
        names = rng.integers(0, len(FIRST_NAMES), k)
        ok_new: list[int] = []
        for i, uid in enumerate(uids):
            words = [NEUTRAL_WORDS[j] for j in neutral[i]]
            has_kw = r_kw[i] < KEYWORD_P
            if has_kw:
                words.insert(2, TOPIC_WORDS[topic[i]])
                counts["keyword"] += 1
            rec = {
                "user_id": str(uid), "username": f"user_{uid}",
                "full_name": f"{FIRST_NAMES[names[i]]} {uid % 997}",
                "bio": " ".join(words),
                "profile_pic_url": f"https://img.example/{uid}.jpg",
                "follower_count": int(uid % 5000),
                "following_count": int(uid % 700),
                "is_private": bool(uid % 7 == 0),
            }
            line = json.dumps(rec)
            if r_bad[i] < MALFORMED_P:
                counts["malformed"] += 1
                if r_bad_kind[i] < 0.5:
                    line = line[: len(line) // 2]
                else:
                    del rec["username"]
                    line = json.dumps(rec)
            else:
                ok_new.append(int(uid))
            categorizable.append(has_kw and r_bad[i] >= MALFORMED_P)
            lines.append(line)
        counts["profiles"] += len(lines)
        files[f"graph/profiles/batch={b}.jsonl"] = (
            "\n".join(lines) + "\n").encode()

        # edges: every new user's followers/following lists
        # targets come from the users landed before this batch (the
        # initial load links its own users among themselves)
        existing = n_users + (k if b == 0 else 0)
        pop = np.concatenate([[int(CELEB_ID)],
                              np.arange(int(CELEB_ID) + 1,
                                        int(CELEB_ID) + existing)])
        deg_out = _zipf_degree(rng, k, 1.8, 300)
        deg_in = _zipf_degree(rng, k, 1.8, 300)
        fol_rows: list[tuple[str, str]] = []
        fwg_rows: list[tuple[str, str]] = []
        analyzable: set[int] = set()
        for i, uid in enumerate(uids):
            u = str(uid)
            # cubic bias toward early users; index 0 (celebrity) excluded
            idx = np.unique(
                (1 + (existing - 1) * rng.random(deg_out[i]) ** 3)
                .astype(np.int64))
            idx = idx[pop[idx] != uid]
            if any(categorizable[j] for j in idx):
                analyzable.add(int(uid))
            tgt = pop[idx]
            back = rng.random(len(tgt)) < RECIPROCITY
            for t, bk in zip(tgt, back):
                fwg_rows.append((u, str(t)))
                if bk:
                    fol_rows.append((u, str(t)))
            counts["following"] += len(tgt)
            counts["reciprocal"] += int(back.sum())
            src = 1 + (existing - 1) * rng.random(deg_in[i]) ** 3
            src = np.unique(pop[src.astype(np.int64)])
            for f in src[src != uid]:
                fol_rows.append((u, str(f)))
        n_rows_before = len(fol_rows) + len(fwg_rows)
        celeb = rng.random(k) < CELEB_FOLLOW_P
        back = rng.random(k) < CELEB_BACK_P
        for i, uid in enumerate(uids):
            if celeb[i]:
                fwg_rows.append((str(uid), CELEB_ID))
                fol_rows.append((CELEB_ID, str(uid)))
                if back[i]:
                    fwg_rows.append((CELEB_ID, str(uid)))
                    fol_rows.append((str(uid), CELEB_ID))
        counts["celeb_edge_rows"] += len(fol_rows) + len(fwg_rows) - n_rows_before
        for name, rows, col in (("followers", fol_rows, "follower_id"),
                                ("following", fwg_rows, "following_id")):
            dup = rng.random(len(rows)) < DUP_EDGE_P
            counts["dup_rows"] += int(dup.sum())
            out = [f"id,user_id,{col},follow_date"]
            for (a, c), d in zip(rows, dup):
                for _ in range(2 if d else 1):
                    out.append(f"{edge_id},{a},{c},{stamp}")
                    edge_id += 1
            counts["edge_rows"] += len(out) - 1
            files[f"graph/{name}/batch={b}.csv"] = (
                "\n".join(out) + "\n").encode()
        n_users += k
        # users the scheduler enqueues: valid profiles following at least
        # one categorizable account, so every analyzed user yields
        # interest rows and none stays pending forever
        pool = [u for u in ok_new if u in analyzable]
        picks = rng.choice(pool, size=ENQUEUE_PER_BATCH, replace=False)
        enqueue.append([f"user_{p}" for p in sorted(picks)])
    props = {
        "users": n_users,
        "profile_lines": counts["profiles"],
        "edge_rows": counts["edge_rows"],
        "malformed_share": counts["malformed"] / counts["profiles"],
        "keyword_hit_share": counts["keyword"] / (n_users - 1),
        "reciprocity_share": counts["reciprocal"] / counts["following"],
        "celebrity_edge_share": counts["celeb_edge_rows"] / counts["edge_rows"],
        "redelivered_edge_share": counts["dup_rows"] / counts["edge_rows"],
    }
    return Inputs(files, {"batches": batches, "enqueue": enqueue}, props)


# -- txlog_serve -----------------------------------------------------------

TX_SCHEMA = pa.schema([("key", pa.int64()), ("ts", pa.timestamp("us", "UTC")),
                       ("amount", pa.int64()), ("tag", pa.string())])
TAGS = ("web", "ios", "android", "api", "pos", "batch", "partner", "other")
TX_SPAN_S = 30 * 86_400  # base rows span 30 days before TX_T0
LOOKUP_SIZES = (1, 4, 16, 64, 2, 8, 32)
RANGE_BACK_S = (0, 3 * 3600, 86_400, 4 * 86_400)
TX_BASE_ROWS = 30_000     # rows of the table loaded in set-up
TX_MERGE_ROWS = 2_000     # rows per merge batch, half of them updates
TX_DELETE_KEYS = 200      # keys drawn per deletion-vector delete


def _tx_table(keys, ts_s, amount, tag_idx) -> pa.Table:
    ts = (np.datetime64(EPOCH, "us")
          + (np.asarray(ts_s, dtype=np.int64) * 1_000_000)
          .astype("timedelta64[us]"))
    return pa.table({
        "key": pa.array(keys, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", "UTC")),
        "amount": pa.array(amount, pa.int64()),
        "tag": pa.array([TAGS[i] for i in tag_idx], pa.string()),
    }, schema=TX_SCHEMA)


def _hot_keys(rng, n: int, universe: int) -> np.ndarray:
    """Zipf-skewed keys: rank r -> a fixed scatter of the key space."""
    ranks = np.minimum(rng.zipf(1.3, n), universe) - 1
    return (ranks * 2_654_435_761) % universe


def txlog_inputs(seed: int, plan: list[str]) -> Inputs:
    """The base table (keys 0..TX_BASE_ROWS-1, ts uniform over 30 days)
    as one Parquet file, plus, per scheduled op, its argument: merge batches
    (half updates of Zipf-hot keys, half new keys, ts advancing one
    minute per write) and delete-key lists as Parquet files; lookup key
    lists (1..64 Zipf-hot keys) and recent-biased time ranges inline."""
    rng = np.random.default_rng(seed)
    files = {"txlog/base.parquet": _parquet_bytes(_tx_table(
        np.arange(TX_BASE_ROWS), rng.integers(0, TX_SPAN_S, TX_BASE_ROWS),
        rng.integers(1, 100_000, TX_BASE_ROWS),
        rng.integers(0, len(TAGS), TX_BASE_ROWS)))}
    ops = []
    next_key = TX_BASE_ROWS
    now_s = TX_SPAN_S
    n_lookups = n_ranges = 0
    upd_keys = dv_keys = 0
    for i, cls in enumerate(plan):
        if cls == "merge":
            now_s += 60
            half = TX_MERGE_ROWS // 2
            keys = np.unique(np.concatenate([
                _hot_keys(rng, half, next_key),
                np.arange(next_key, next_key + TX_MERGE_ROWS - half)]))
            upd_keys += int((keys < next_key).sum())
            next_key += TX_MERGE_ROWS - half
            name = f"txlog/merge/op={i}.parquet"
            files[name] = _parquet_bytes(_tx_table(
                keys, now_s - rng.integers(0, 60, len(keys)),
                rng.integers(1, 100_000, len(keys)),
                rng.integers(0, len(TAGS), len(keys))))
            ops.append({"cls": cls, "file": name, "rows": int(len(keys))})
        elif cls == "dv_delete":
            keys = np.unique(rng.integers(0, next_key, TX_DELETE_KEYS))
            dv_keys += len(keys)
            name = f"txlog/delete/op={i}.parquet"
            files[name] = _parquet_bytes(
                pa.table({"key": pa.array(keys, pa.int64())}))
            ops.append({"cls": cls, "file": name, "rows": int(len(keys))})
        elif cls == "point_lookup":
            # key counts cycle through 1..64 in a fixed order, so every
            # seed asks for the same mix of narrow and wide lookups
            n = LOOKUP_SIZES[n_lookups % len(LOOKUP_SIZES)]
            n_lookups += 1
            ops.append({"cls": cls, "keys": sorted(
                {int(x) for x in _hot_keys(rng, n, next_key)})})
        elif cls == "range_scan":
            # recent-biased: the 6-hour window ends a fixed cycle of
            # distances before "now" (jittered by up to an hour)
            back = RANGE_BACK_S[n_ranges % len(RANGE_BACK_S)]
            n_ranges += 1
            hi = now_s - back - int(rng.integers(0, 3600))
            ops.append({"cls": cls, "lo": hi - 6 * 3600, "hi": hi})
        else:  # full_scan, compact: no argument
            ops.append({"cls": cls})
    props = {
        "base_rows": TX_BASE_ROWS,
        "merge_rows": TX_MERGE_ROWS,
        "merge_update_share": upd_keys / max(1, sum(
            o["rows"] for o in ops if o["cls"] == "merge")),
        "dv_delete_keys": dv_keys,
    }
    return Inputs(files, {"ops": ops}, props)


# -- corpus_dedup ----------------------------------------------------------

DOCS_PER_BATCH = 600
VECS_PER_BATCH = 1_000
TRAIN_VECS = 1_000        # k-means training sample
QUERIES_PER_TOPK = 16
DIM = 64
CLUSTERS = 16             # mixture components, and k of the k-means
WITHIN_DUP_P = 0.1        # share of a batch copying a doc of the batch
CROSS_DUP_P = 0.1         # share copying a doc of an earlier batch
EDITS = 2                 # word substitutions per planted duplicate

def _vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    words = {"".join(rng.choice(letters, size=ln)) for ln in lens}
    return sorted(words)


def corpus_inputs(seed: int, batches: int) -> Inputs:
    """Docs (Parquet, doc_id/text) with planted near-duplicates: a share
    ``WITHIN_DUP_P`` copies a lower-id doc of the same batch and
    ``CROSS_DUP_P`` copies a doc of an earlier batch, each with ``EDITS``
    word substitutions. Vectors (Parquet, vec_id/embedding) are a mixture
    of ``CLUSTERS`` Gaussians; the k-means training sample and every
    top-k query set come from the same mixture."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 6_000)
    vocab_arr = np.array(vocab, dtype=object)
    files: dict[str, bytes] = {}
    originals: list[list[str]] = []
    planted: list[int] = []
    n_docs = 0
    rows = {"docs": [], "vecs": [], "queries": []}
    centers = rng.normal(size=(CLUSTERS, DIM))

    def vectors(ids) -> pa.Table:
        c = rng.integers(0, CLUSTERS, len(ids))
        v = centers[c] + 0.35 * rng.normal(size=(len(ids), DIM))
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float64())),
        })

    files["corpus/train.parquet"] = _parquet_bytes(
        vectors(np.arange(10**9, 10**9 + TRAIN_VECS)))
    for b in range(batches):
        base = (b + 1) * 1_000_000
        n_within = int(DOCS_PER_BATCH * WITHIN_DUP_P)
        n_cross = int(DOCS_PER_BATCH * CROSS_DUP_P) if originals else 0
        n_orig = DOCS_PER_BATCH - n_within - n_cross
        lens = rng.integers(40, 80, n_orig)
        batch_orig = [list(vocab_arr[rng.integers(0, len(vocab), ln)])
                      for ln in lens]
        docs = list(batch_orig)

        def near(src: list[str]) -> list[str]:
            out = list(src)
            for pos in rng.integers(0, len(out), EDITS):
                out[pos] = vocab[rng.integers(0, len(vocab))]
            return out

        for _ in range(n_within):
            docs.append(near(batch_orig[rng.integers(0, n_orig)]))
        for _ in range(n_cross):
            docs.append(near(originals[rng.integers(0, len(originals))]))
        ids = np.arange(base, base + len(docs))
        planted.extend(int(x) for x in ids[n_orig:])
        originals.extend(batch_orig)
        n_docs += len(docs)
        files[f"corpus/docs/batch={b}.parquet"] = _parquet_bytes(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([" ".join(d) for d in docs], pa.string()),
        }))
        files[f"corpus/vecs/batch={b}.parquet"] = _parquet_bytes(
            vectors(np.arange(base, base + VECS_PER_BATCH)))
        files[f"corpus/queries/batch={b}.parquet"] = _parquet_bytes(
            vectors(np.arange(QUERIES_PER_TOPK)).rename_columns(
                ["query_id", "embedding"]))
        for kind, n in (("docs", len(docs)), ("vecs", VECS_PER_BATCH),
                        ("queries", QUERIES_PER_TOPK)):
            rows[kind].append(n)
    props = {
        "docs": n_docs,
        "planted_dup_share": len(planted) / n_docs,
        "vectors": batches * VECS_PER_BATCH,
        "dim": DIM,
        "mixture_clusters": CLUSTERS,
    }
    return Inputs(files, {"batches": batches, "planted": planted,
                          "rows": rows}, props)
