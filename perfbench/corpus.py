"""Seeded word-count corpus with the shape of the paper's file_chunks_130
input, and its expected counts from an independent replay of the
reference rules (FIXTURES.md section 3).

The corpus: 130 chunk files, each starting with a UTF-8 BOM, CRLF line
ends, a Zipfian vocabulary of 41 000 words, and every edge-case class of
the reference's tokenize/normalize stages: mixed case, punctuation on
either end, digits on either end, interior apostrophes and tabs,
all-non-alpha tokens, double spaces, lines of spaces, blank lines,
tokens over 70 bytes, a token of exactly 70 bytes, UTF-8 accented
letters and invalid UTF-8 bytes. The same seed gives identical bytes.

Generation is vectorized: tokens are drawn as (word, decoration) ids
with numpy, and only the distinct pairs are rendered in Python.

The replay never uses the generator's ids. It re-reads the bytes: lines
split on CRLF (the only line break written), tokens split on the 0x20
byte, each distinct token normalized once (ASCII-only lowercase; strip
non-[a-z] bytes from both ends unless the token has no [a-z] byte), then
tokens that normalize to nothing or to more than 70 bytes are dropped.
"""
import collections
import os
import re

import numpy as np

FILES = 130
WORD_LENGTH = 70
BOM = b"\xef\xbb\xbf"

# The generator's parameters are calibrated so that a 13 MB corpus
# matches the figures recorded for file_chunks_130 (FIXTURES.md section 2,
# BASELINE.md): REFERENCE below. calibration() measures them; a self-test
# holds the generator to them. The decoration shares are not calibrated
# (the reference corpus is not in the repository), except that the
# punctuation-only survivors are kept near the reference's rate.
REFERENCE = {"bytes": 13_000_000, "surviving_tokens": 2_297_140, "distinct_words": 50_059}
VOCAB = 41_000
# Zipf-Mandelbrot word frequencies: p(rank r) ~ 1 / (r + ZIPF_Q) ** ZIPF_S.
ZIPF_S = 1.05
ZIPF_Q = 1.4
# Word length - 1 is Poisson(LEN_BASE + LEN_SLOPE * ln rank): frequent
# words are short.
LEN_BASE = 1.0
LEN_SLOPE = 0.42
# Bytes per token, separator included, used to size the token draw.
BYTES_PER_TOKEN = 5.66

# Decoration kinds and their share of tokens. Each renders a vocabulary
# word w (lowercase ASCII) into the bytes of one token.
KINDS = [
    ("plain", 0.700, lambda w, r: w),
    ("title", 0.100, lambda w, r: w[:1].upper() + w[1:]),
    ("upper", 0.030, lambda w, r: w.upper()),
    ("mixed", 0.010, lambda w, r: bytes(c - 32 if i % 2 and 97 <= c <= 122 else c
                                        for i, c in enumerate(w))),
    ("suffix_punct", 0.080, lambda w, r: w + [b".", b",", b";", b":", b"!", b"?", b")."][r % 7]),
    ("wrapped", 0.020, lambda w, r: [b"(", b'"', b"'"][r % 3] + w + [b").", b'"', b"'"][r % 3]),
    ("digits", 0.010, lambda w, r: str(r % 97).encode() + w + str(r % 89).encode()),
    ("apostrophe", 0.010, lambda w, r: w + [b"'s", b"n't", b"'ll"][r % 3]),
    ("non_alpha", 0.001, lambda w, r: [b"...", b"*", b"-", b"--", b"1871", b"42", b"&", b"..."][r % 8]),
    ("accented", 0.004, lambda w, r: [b"\xc3\xa9", b"\xc3\x89", b"\xc3\xbc"][r % 3] + w),
    ("invalid_utf8", 0.001, lambda w, r: [w + b"\xff", b"\xc3" + w, w + b"\x80" + w][r % 3]),
    ("non_alpha_invalid", 0.0002, lambda w, r: [b"\xff\xfe", b"12\x80"][r % 2]),
    ("tab", 0.0005, lambda w, r: w + b"\t" + w[::-1]),
    ("long", 0.0005, lambda w, r: (w * 100)[:71 + r % 20]),
    ("exactly_70", 0.0002, lambda w, r: (w * 70)[:70]),
]


def _vocabulary(rng):
    # Frequent words are short: the mean length grows with log rank.
    ranks = np.arange(1, VOCAB + 1)
    lengths = np.clip(rng.poisson(LEN_BASE + LEN_SLOPE * np.log(ranks)) + 1, 1, 14)
    letters = rng.integers(97, 123, int(lengths.sum()), dtype=np.uint8).tobytes()
    ends = np.cumsum(lengths)
    starts = ends - lengths
    return [letters[a:b] for a, b in zip(starts.tolist(), ends.tolist())]


def generate(out_dir, seed, target_bytes):
    """Write the corpus to out_dir/corpus/*.txt; return its byte size."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    zipf = 1.0 / (ranks + ZIPF_Q) ** ZIPF_S
    zipf /= zipf.sum()
    shares = np.array([k[1] for k in KINDS])
    shares /= shares.sum()

    n_tok = int(target_bytes / BYTES_PER_TOKEN)
    word = rng.choice(VOCAB, size=n_tok, p=zipf)
    kind = rng.choice(len(KINDS), size=n_tok, p=shares)
    salt = rng.integers(0, 1 << 30, n_tok)
    # Distinct (word, kind, salt mod 97) triples are rendered once each.
    key = (word.astype(np.int64) * len(KINDS) + kind) * 97 + salt % 97
    uniq, inv = np.unique(key, return_inverse=True)
    forms = []
    for k in uniq.tolist():
        r = k % 97
        wk = k // 97
        forms.append(KINDS[wk % len(KINDS)][2](vocab[wk // len(KINDS)], r))
    tokens = [forms[i] for i in inv.tolist()]

    # Lines of 1..20 tokens; some lines get a double space, some are
    # blank or spaces only.
    per_line = np.clip(rng.poisson(9.0, n_tok // 5 + 1) + 1, 1, 20)
    bounds = np.cumsum(per_line)
    bounds = bounds[bounds < n_tok].tolist() + [n_tok]
    line_kind = rng.random(len(bounds))
    lines, a = [], 0
    for b, lk in zip(bounds, line_kind.tolist()):
        line = b" ".join(tokens[a:b])
        a = b
        if lk < 0.03:
            line = line.replace(b" ", b"  ", 1)
        lines.append(line)
        if lk > 0.985:
            lines.append(b"")
        elif lk > 0.975:
            lines.append(b"   ")

    corpus = os.path.join(out_dir, "corpus")
    os.makedirs(corpus, exist_ok=True)
    per_file = -(-len(lines) // FILES)
    title = [vocab[i][:1].upper() + vocab[i][1:] for i in rng.integers(0, 100, FILES).tolist()]
    total = 0
    for f in range(FILES):
        chunk = lines[f * per_file:(f + 1) * per_file]
        # The BOM is followed by a capitalized word, so it is stripped by
        # normalize whether or not the text reader drops it.
        body = BOM + title[f] + b" " + b"\r\n".join(chunk) + b"\r\n"
        with open(os.path.join(corpus, f"{f}.txt"), "wb") as fh:
            fh.write(body)
        total += len(body)
    return total


_UPPER = bytes.maketrans(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ", b"abcdefghijklmnopqrstuvwxyz")
_ALPHA = re.compile(rb"[a-z]")
_ALPHA_RUN = re.compile(rb"[a-z].*[a-z]|[a-z]", re.S)


def normalize(tok):
    """The reference's normalizeWord on raw bytes."""
    low = tok.translate(_UPPER)
    if not _ALPHA.search(low):
        return low
    return _ALPHA_RUN.search(low).group(0)


def expected_counts(out_dir):
    """Replay the reference rules over the corpus bytes."""
    raw = collections.Counter()
    corpus = os.path.join(out_dir, "corpus")
    for name in sorted(os.listdir(corpus)):
        with open(os.path.join(corpus, name), "rb") as fh:
            raw.update(fh.read().replace(b"\r\n", b" ").split(b" "))
    counts = collections.Counter()
    for tok, n in raw.items():
        w = normalize(tok)
        if 0 < len(w) <= WORD_LENGTH:
            counts[w] += n
    return counts


def calibration(out_dir, seed=1):
    """Generate a corpus of the reference's size into out_dir and return
    its figures next to REFERENCE's."""
    size = generate(out_dir, seed, REFERENCE["bytes"])
    counts = expected_counts(out_dir)
    return {"bytes": size, "surviving_tokens": sum(counts.values()),
            "distinct_words": len(counts)}


if __name__ == "__main__":
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        got = calibration(d)
    for k, want in REFERENCE.items():
        print(f"{k:18s} generated {got[k]:>10,}  file_chunks_130 {want:>10,}")
