"""End-to-end metrics and failure accounting of one run record."""
from statistics import median

from stats import highest_percentile


def account(records, reference, oracle_sqls, oracle_errors):
    """(attempted, failed, problems, digests) for one run, given the
    records of its measuring JVMs.

    Every query execution is attempted once; it fails on an exception or
    when its digest differs from the reference digest for that query (the
    digest an earlier run of the same seed recorded, else this run's first
    one). Every query with an oracle adds one attempted comparison per
    JVM, which fails on an oracle error, a column mismatch or a differing
    digest.
    """
    digests = dict(reference)
    attempted = failed = 0
    problems = []
    for j, record in enumerate(records):
        for p in record["passes"]:
            for q in p["queries"]:
                attempted += 1
                name = q["name"]
                where = f"{name} JVM {j + 1} pass {p['index']}"
                if not q["ok"]:
                    failed += 1
                    problems.append(f"{where}: {q['error']}")
                    continue
                want = digests.setdefault(name, q["digest"])
                if q["digest"] != want:
                    failed += 1
                    problems.append(f"{where}: digest {q['digest']} != {want}")
    for j, record in enumerate(records):
        for name in sorted(oracle_sqls):
            attempted += 1
            got = record["oracle"].get(name, {})
            err = oracle_errors.get(name) or got.get("error")
            if err is None and "digest" not in got:
                err = "no oracle result"
            if err is None and got["digest"] != digests.get(name):
                err = f"digest {digests.get(name)} != oracle {got['digest']}"
            if err is not None:
                failed += 1
                problems.append(f"{name} JVM {j + 1} oracle: {err}")
    return attempted, failed, problems, digests


def end_to_end(records, setup_samples, input_rows):
    """The end-to-end metrics of an untraced run: medians over its set-up
    samples and over the passes and heaps of its measuring JVMs."""
    def walls(kind):
        return [p["wall_s"] for r in records for p in r["passes"]
                if p["kind"] == kind]
    return {
        "setup_s": median(setup_samples),
        "cold_pass_s": median(walls("cold")),
        "rows_per_s": input_rows / median(walls("steady")),
        "retained_heap_mb": median(r["heap_mb"] for r in records),
    }


def detail_lines(records):
    """Human-readable latency lines; a percentile is shown only when at
    least ten samples lie beyond it."""
    lines = []
    lat, trig = [], []
    for record in records:
        steady = [p for p in record["passes"] if p["kind"] == "steady"]
        lat += [q["wall_s"] for p in steady for q in p["queries"] if q["ok"]]
        indexes = {p["index"] for p in steady}
        trig += [b["trigger_ms"] for b in record["batches"]
                 if b["pass"] in indexes]
    for label, unit, xs in (("query", "s", lat), ("batch", "ms", trig)):
        if not xs:
            lines.append(f"{label}_latency: n/a (no samples)")
            continue
        p50 = highest_percentile(xs, (50,))[1]
        p, v = highest_percentile(xs, (99, 90))
        lines.append(
            f"{label}_latency: n={len(xs)} "
            f"p50={'n/a' if p50 is None else f'{p50:.4f} {unit}'} "
            + (f"p{p:g}={v:.4f} {unit}" if p else "no higher percentile with "
               "ten samples beyond it"))
    return lines
