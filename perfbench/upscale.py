"""Seeded, length-preserving, decorrelated upscale of the curation tables.

Each of REP replicas of `documents` maps its text through a permutation
of [a-z] (mirrored onto [A-Z]) and a rotation of the digits, both drawn
from the workload seed. Every document keeps its byte length and token
lengths, while replicas share almost no shingles, so candidate joins
grow with the corpus rather than with duplicate cliques. Each replica of
`embeddings` is the base vector rotated by a seeded number of dimensions
and sign-flipped on a seeded coin: norms are kept, cross-replica cosines
are near random. Unlike the fixed `perm` permutations of
tools/upscale_diverse.py, replica 0 is permuted too, so every seed gives
a different corpus.
"""
import os
import random
import shutil
import string

import duckdb

REP = 2
DIMS = 64


def upscale(src, dst, seed):
    """Write documents/embeddings upscaled from src into dst, and copy the
    other tables unchanged. Returns the number of documents written."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        if name.endswith(".parquet") and name not in ("documents.parquet", "embeddings.parquet"):
            shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    rng = random.Random(seed)
    lower, digits = string.ascii_lowercase, string.digits
    frm = lower + lower.upper() + digits
    arms, rots = [], []
    for i in range(REP):
        p = list(lower)
        rng.shuffle(p)
        perm = "".join(p)
        d = rng.randrange(10)
        arms.append(f"WHEN i = {i} THEN translate(text, '{frm}', "
                    f"'{perm + perm.upper() + digits[d:] + digits[:d]}')")
        rots.append((rng.randrange(1, DIMS), rng.choice((1.0, -1.0))))
    con = duckdb.connect()
    docs = f"{src}/documents.parquet"
    dk = con.sql(f"SELECT max(doc_id) + 1 FROM '{docs}'").fetchone()[0]
    con.sql(
        f"COPY (SELECT doc_id + i * {dk} AS doc_id, CASE {' '.join(arms)} END AS text,"
        f" lang, source, n_chars FROM '{docs}', range({REP}) t(i) ORDER BY doc_id)"
        f" TO '{dst}/documents.parquet' (FORMAT PARQUET)")
    emb = f"{src}/embeddings.parquet"
    vk = con.sql(f"SELECT max(vec_id) + 1 FROM '{emb}'").fetchone()[0]
    shift = "CASE " + " ".join(f"WHEN i = {i} THEN {r}" for i, (r, _) in enumerate(rots)) + " END"
    sign = "CASE " + " ".join(f"WHEN i = {i} THEN {s}" for i, (_, s) in enumerate(rots)) + " END"
    con.sql(
        f"COPY (SELECT vec_id + i * {vk} AS vec_id,"
        f" list_transform(range(1, {DIMS + 1}), j ->"
        f"   (embedding[1 + ((j - 1 + {shift}) % {DIMS})] * {sign})::FLOAT) AS embedding,"
        f" label FROM '{emb}', range({REP}) t(i) ORDER BY vec_id)"
        f" TO '{dst}/embeddings.parquet' (FORMAT PARQUET)")
    n = con.sql(f"SELECT count(*) FROM '{dst}/documents.parquet'").fetchone()[0]
    con.close()
    return n
