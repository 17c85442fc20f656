"""Self-tests for the benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need no build and no JVM.
"""
import json
import os
import re
import tempfile
import unittest

import corpus
import metrics
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def kinds_present(out_dir):
    """Which edge-case classes occur in the corpus bytes."""
    data = b"".join(open(os.path.join(out_dir, "corpus", n), "rb").read()
                    for n in sorted(os.listdir(os.path.join(out_dir, "corpus"))))
    toks = set(data.replace(b"\r\n", b" ").split(b" "))
    return {
        "bom": data.startswith(corpus.BOM),
        "crlf": b"\r\n" in data,
        "double_space": b"" in toks,
        "blank_line": b"\r\n\r\n" in data,
        "spaces_line": b"\r\n   \r\n" in data,
        "upper": any(re.search(rb"[A-Z]", t) for t in toks),
        "punct_ends": any(t[:1] == b"(" and t[-2:] == b")." for t in toks),
        "digits_ends": any(re.fullmatch(rb"[0-9]+[a-z]+[0-9]+", t) for t in toks),
        "non_alpha": b"..." in toks and b"1871" in toks,
        "interior_apostrophe": any(re.fullmatch(rb"[a-z]+n't", t) for t in toks),
        "tab": any(b"\t" in t for t in toks),
        "over_70": any(len(corpus.normalize(t)) > corpus.WORD_LENGTH for t in toks),
        "exactly_70": any(len(corpus.normalize(t)) == corpus.WORD_LENGTH for t in toks),
        "invalid_utf8": any(_invalid(t) for t in toks),
        "accented": any(b"\xc3\xa9" in t for t in toks),
    }


def _invalid(t):
    try:
        t.decode("utf-8")
        return False
    except UnicodeDecodeError:
        return True


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # fed reversed: input order must not matter
        value, pct, n = metrics.tail(reversed(xs))
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_twenty_samples_is_the_median_rank(self):
        value, pct, n = metrics.tail(range(20))
        self.assertEqual((value, pct, n), (9.0, 50.0, 20))

    def test_eleven_samples(self):
        value, pct, _ = metrics.tail(range(11))
        self.assertEqual(value, 0.0)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_spans_close_exactly(self):
        spans = [
            (0, 100, "pass", ""),
            (5, 95, "job", ""),
            (10, 60, "call", "queries"),
            (60, 90, "call", "queries"),
            (20, 50, "spark_job", "exec"),
            (25, 40, "stage", "exec"),
            (30, 45, "stage", "exec"),  # overlaps its sibling
            (12, 18, "phase", "plans"),
            (65, 85, "batch", "streaming"),
            (70, 80, "spark_job", "exec"),
        ]
        out = metrics.self_times((0, 100), spans)
        self.assertAlmostEqual(sum(out.values()), 0.100)
        self.assertAlmostEqual(out["plans"], 0.006)
        self.assertAlmostEqual(out["exec"], 0.040)
        self.assertAlmostEqual(out["streaming"], 0.010)
        self.assertAlmostEqual(out["queries"], 0.024)
        self.assertAlmostEqual(out["unattributed"], 0.020)

    def test_spans_are_clipped_to_the_root(self):
        out = metrics.self_times((10, 20), [(0, 15, "call", "core"), (18, 30, "stage", "exec")])
        self.assertAlmostEqual(out["core"], 0.005)
        self.assertAlmostEqual(out["exec"], 0.002)
        self.assertAlmostEqual(out["unattributed"], 0.003)

    def test_pass_layers_close_on_a_dump(self):
        dump = {
            "spans": [
                {"id": 1, "name": "pass:1", "layer": "", "start": 1000.0, "end": 2000.0},
                {"id": 2, "name": "job:q", "layer": "", "start": 1010.0, "end": 1990.0},
                {"id": 3, "name": "build", "layer": "queries", "start": 1010.0, "end": 1400.0},
                {"id": 4, "name": "sink", "layer": "queries", "start": 1400.0, "end": 1990.0},
            ],
            "spark_jobs": [{"job": 0, "start": 1100.0, "end": 1300.0, "span": 3, "stages": [0]},
                           {"job": 1, "start": 1500.0, "end": 1900.0, "span": 4, "stages": [1, 2]}],
            "stages": [{"stage": 0, "start": 1110.0, "end": 1290.0},
                       {"stage": 1, "start": 1510.0, "end": 1700.0},
                       {"stage": 2, "start": 1690.0, "end": 1880.0}],
            "tasks": [dict(stage=s, start=a, end=b, ok=True, run_ms=b - a, cpu_ns=1e6, gc_ms=0,
                           sw_bytes=10, sw_records=1, sr_bytes=10, fetch_wait_ms=0,
                           spill_bytes=0, out_bytes=0, in_bytes=0, in_records=0)
                      for s, a, b in [(0, 1110, 1290), (1, 1510, 1700), (2, 1690, 1880)]],
            "phases": [{"analysis": {"start": 1420.0, "end": 1450.0}}],
            "progress": [],
        }
        m = metrics.pass_layers((1000.0, 2000.0), dump, cores=4)
        parts = [m[f"trace.{l}_self_s"] for l in ("core", "queries", "plans", "exec", "streaming")]
        self.assertAlmostEqual(sum(parts) + m["trace.unattributed_s"], m["trace.pass_s"])
        self.assertEqual((m["queries.build_jobs"], m["queries.exec_jobs"]), (1, 1))
        self.assertAlmostEqual(m["exec.driver_s"], 0.020 + 0.030)
        self.assertAlmostEqual(m["plans.analysis_ms"], 30.0)


class PrefixAttributionTest(unittest.TestCase):
    def test_differences_of_medians(self):
        samples = {"ingest": [1.0, 1.2, 9.0], "tokenize": [1.5, 1.5, 1.6],
                   "normalize": [1.9, 2.0, 2.1], "count": [3.0, 3.1, 2.9],
                   "sink": [3.5, 3.4, 3.6]}
        out = metrics.prefix_attribution(samples)
        for k, v in {"scan": 1.2, "tokenize": 0.3, "normalize": 0.5,
                     "aggregate": 1.0, "sink": 0.5}.items():
            self.assertAlmostEqual(out[k], v)

    def test_noise_never_gives_a_negative_stage(self):
        samples = {"ingest": [1.0], "tokenize": [0.9], "normalize": [1.2],
                   "count": [2.0], "sink": [2.5]}
        out = metrics.prefix_attribution(samples)
        self.assertEqual(out["tokenize"], 0.0)
        self.assertAlmostEqual(out["normalize"], 0.3)


class CorpusTest(unittest.TestCase):
    def _gen(self, seed, size=400_000):
        d = tempfile.mkdtemp()
        corpus.generate(d, seed, size)
        files = sorted(os.listdir(os.path.join(d, "corpus")))
        return d, b"".join(open(os.path.join(d, "corpus", f), "rb").read() for f in files)

    def test_same_seed_same_bytes(self):
        _, a = self._gen(7)
        _, b = self._gen(7)
        _, c = self._gen(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_every_edge_case_class_occurs(self):
        d, _ = self._gen(3, 1_500_000)
        self.assertEqual(len(os.listdir(os.path.join(d, "corpus"))), corpus.FILES)
        missing = [k for k, v in kinds_present(d).items() if not v]
        self.assertEqual(missing, [])

    def test_calibrated_to_file_chunks_130(self):
        with tempfile.TemporaryDirectory() as d:
            got = corpus.calibration(d)
        for k, want in corpus.REFERENCE.items():
            self.assertLess(abs(got[k] - want) / want, 0.02, (k, got[k], want))

    def test_replay_follows_the_fixture_rules(self):
        cases = {b"The": b"the", b"(word).": b"word", b"don't": b"don't", b"12abc34": b"abc",
                 b"...": b"...", b"1871": b"1871", b"\xef\xbb\xbfProject": b"project",
                 b"a\tb": b"a\tb", b"\xc3\x89clair": b"clair", b"\xff\xfe": b"\xff\xfe"}
        for tok, want in cases.items():
            self.assertEqual(corpus.normalize(tok), want, tok)
        d = tempfile.mkdtemp()
        os.makedirs(os.path.join(d, "corpus"))
        with open(os.path.join(d, "corpus", "0.txt"), "wb") as fh:
            fh.write(corpus.BOM + b"The the  THE.\r\n\r\n   \r\n" + b"x" * 71 + b" "
                     + b"y" * 70 + b" ... 1871\r\n")
        self.assertEqual(corpus.expected_counts(d),
                         {b"the": 3, b"y" * 70: 1, b"...": 1, b"1871": 1})


class ContractTest(unittest.TestCase):
    def test_every_per_layer_metric_is_mapped(self):
        mapped = set(run.LAYERS["moves"])
        for m in run.SPEC["per_layer"]:
            name = m["name"]
            self.assertTrue(any(name == k or name.startswith(k + ".") for k in mapped), name)

    def test_input_caches_follow_the_generators(self):
        d = tempfile.mkdtemp()
        src = os.path.join(d, "corpus.py")
        with open(src, "w") as fh:
            fh.write("VOCAB = 1\n")
        saved = run.INPUT_SOURCES
        try:
            run.INPUT_SOURCES = [src]
            before = run.inputs_digest()
            with open(src, "w") as fh:
                fh.write("VOCAB = 2\n")
            self.assertNotEqual(run.inputs_digest(), before)
        finally:
            run.INPUT_SOURCES = saved


if __name__ == "__main__":
    unittest.main()
