"""Statistics and seeded inputs for the benchmark, kept free of I/O so that
test_stats.py can pin them."""
import math
import random
import re
import statistics

# A percentile is reported only if at least this many samples lie beyond it.
TAIL_SAMPLES = 10
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    return statistics.median(xs)


def mean(xs):
    return statistics.fmean(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def percentile(xs, p):
    """Harrell-Davis estimate of the p-th percentile: a weighted mean of all
    order statistics, with Beta((n+1)q, (n+1)(1-q)) weights (q = p/100).
    Unlike picking the one or two samples at rank (n-1)q, it does not jump
    when that rank falls between the latencies of two different queries."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return s[0]
    q = p / 100.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    steps = 64  # midpoint rule on each of the n intervals [i/n, (i+1)/n]
    w = []
    for i in range(n):
        xs_ = ((i + (j + 0.5) / steps) / n for j in range(steps))
        w.append(sum(math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x)) for x in xs_))
    total = sum(w)
    return sum(wi * v for wi, v in zip(w, s)) / total


def beyond(n, p):
    """Samples ranked strictly above the p-th percentile of n samples (the
    rank `percentile` interpolates at)."""
    return n - 1 - int((n - 1) * p / 100.0 + 1e-9) if n else 0


def tail_percentile(n):
    """Highest of PERCENTILES with at least TAIL_SAMPLES samples beyond it,
    or None when n is too small for any of them."""
    for p in PERCENTILES:
        if beyond(n, p) >= TAIL_SAMPLES:
            return p
    return None


def failed_frac(outcomes):
    """Share of attempted executions that threw or failed their check.
    `outcomes` is an iterable of booleans (True = ok)."""
    outcomes = list(outcomes)
    if not outcomes:
        raise ValueError("nothing attempted")
    return sum(1 for ok in outcomes if not ok) / len(outcomes)


def pass_orders(seed, names, passes):
    """One permutation of `names` per pass, determined by the seed alone."""
    out = []
    for p in range(passes):
        order = list(names)
        random.Random(f"{seed}/{p}").shuffle(order)
        out.append(order)
    return out


# ------------------------------------------------------------------ corpus

_CONS = "bcdfghjklmnprstvwz"
_VOW = "aeiou"


def _vocabulary(rng, size):
    words = set()
    while len(words) < size:
        n = rng.choice((1, 2, 2, 3, 3, 4))
        words.add("".join(rng.choice(_CONS) + rng.choice(_VOW) for _ in range(n)))
    return sorted(words)


def corpus(seed, files, words_per_file, vocab=20000):
    """`files` seeded text documents: {name: text}. Word frequencies follow
    a Zipf-like law over a seeded vocabulary, lines are ~12 words, and
    punctuation and digits separate some tokens, as in prose."""
    rng = random.Random(f"corpus/{seed}")
    words = _vocabulary(rng, vocab)
    weights = [1.0 / (i + 1) for i in range(len(words))]
    out = {}
    for f in range(files):
        draw = rng.choices(words, weights=weights, k=words_per_file)
        parts = []
        for i, w in enumerate(draw):
            if i % 12 == 11:
                parts.append(w + ".\n")
            elif i % 29 == 7:
                parts.append(w.capitalize() + ",")
            elif i % 97 == 3:
                parts.append(w + f" {i % 1000} ")
            else:
                parts.append(w)
        out[f"doc-{seed}-{f}.txt"] = " ".join(parts) + "\n"
    return out


_TOKEN = re.compile(r"[^\W\d_]+")


def tokens(text):
    """The word-count tokenizer: maximal runs of letters."""
    return _TOKEN.findall(text)


def expected_wc(docs):
    counts = {}
    for text in docs.values():
        for w in tokens(text):
            counts[w] = counts.get(w, 0) + 1
    return sorted(f"{w} {c}" for w, c in counts.items())


def expected_indexer(docs):
    where = {}
    for name, text in docs.items():
        for w in set(tokens(text)):
            where.setdefault(w, []).append(name)
    return sorted(f"{w} {len(fs)} {','.join(sorted(fs))}" for w, fs in where.items())
