"""Query samples for the query workloads.

A sample is a pure function of (workload, seed, expected table). The table
(perfbench/expected/<workload>.json) lists the registry's queries as they
were at calibration, with their reference cold and warm seconds.

Rule:
  * streaming queries (name contains "stream", the registry's own rule in
    graft.Bench.isStreaming) form one stratum; the other queries are sorted
    by reference warm seconds and cut into STRATA[workload] strata of
    near-equal size;
  * the core: one query from each stratum (STREAMING[workload] from the
    streaming one), drawn once for the workload and redrawn until its
    reference cold and warm totals are within BALANCE of their expected
    values, so it carries the registry's mix;
  * the seed draws EXTRA[workload] more queries from the two middle strata
    and sets the order the sample runs in.
Why the core is the same for every seed: a query's first execution in a
fresh JVM costs 1-8x its reference seconds, depending on which subsystems it
is the first to load. Over ten seeds, fully seed-drawn samples read an
interquartile range of 0.42 of the median for the cold total; with one
seed-drawn query beside the core, 0.2 for the cold total and 0.3 for the
live heap. queries_floor therefore draws none, and the seed only orders it.
"""
import json
import random

STRATA = {"queries_floor": 6, "queries_heavy": 2}
STREAMING = {"queries_floor": 1, "queries_heavy": 0}
EXTRA = {"queries_floor": 0, "queries_heavy": 1}
BALANCE = 0.03
MAX_TRIES = 200000


def load(path):
    with open(path) as fh:
        return json.load(fh)


def is_streaming(name):
    return "stream" in name


def strata(workload, table):
    """The relational strata of a workload's pool, then the streaming one
    when the workload draws streaming queries."""
    qs = table["queries"]
    relational = sorted((n for n in qs if not is_streaming(n)),
                        key=lambda n: (qs[n]["warm_s"], n))
    k = STRATA[workload]
    out = [relational[i * len(relational) // k:(i + 1) * len(relational) // k]
           for i in range(k)]
    if STREAMING[workload]:
        out.append(sorted(n for n in qs if is_streaming(n)))
    return out


def core(workload, table):
    """The balanced part every sample of the workload shares."""
    qs = table["queries"]
    layers = strata(workload, table)
    counts = [1] * len(layers)
    if STREAMING[workload]:
        counts[-1] = STREAMING[workload]

    def mean(names, key):
        return sum(qs[n][key] for n in names) / len(names)

    target = {key: sum(c * mean(s, key) for c, s in zip(counts, layers))
              for key in ("cold_s", "warm_s")}
    rng = random.Random(f"{workload}:core")
    best, best_err = None, None
    for _ in range(MAX_TRIES):
        pick = [n for c, s in zip(counts, layers) for n in rng.sample(s, c)]
        err = max(abs(sum(qs[n][key] for n in pick) / target[key] - 1)
                  for key in target)
        if best_err is None or err < best_err:
            best, best_err = pick, err
        if err <= BALANCE:
            break
    return sorted(best)


def draw(workload, seed, table):
    """The sample in the order it runs."""
    fixed = core(workload, table)
    relational = strata(workload, table)[:STRATA[workload]]
    mid = len(relational) // 2
    middle = sorted(n for s in relational[max(0, mid - 1):mid + 1] for n in s
                    if n not in fixed)
    rng = random.Random(f"{workload}:{seed}")
    sample = fixed + rng.sample(middle, EXTRA[workload])
    rng.shuffle(sample)
    return sample
