"""Arithmetic over the benchmark's raw records, kept free of I/O so that
test_perfbench.py can check it without a JVM."""

import math


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def beyond(values, q):
    """How many samples lie strictly above the q-quantile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def tail_ok(values, q, min_beyond=10):
    """A tail percentile is reportable only with >= min_beyond samples past it."""
    return len(values) > 0 and beyond(values, q) >= min_beyond


def parallelism(task_run_s, exec_wall_s, cores):
    """Effective parallelism: total task run time over the execution wall
    time times the cores that could have run tasks. 1.0 = every core busy."""
    if exec_wall_s <= 0 or cores <= 0:
        return 0.0
    return task_run_s / (exec_wall_s * cores)


def self_times(spans):
    """Self time per span name: each span's duration minus the part of its
    interval that its child spans (same execution, parent == its name)
    cover. `spans` holds (exec, name, parent, start_ns, end_ns)."""
    by_exec = {}
    for s in spans:
        by_exec.setdefault(s[0], []).append(s)
    out = {}
    for group in by_exec.values():
        for exec_id, name, _parent, start, end in group:
            kids = sorted((c[3], c[4]) for c in group if c[2] == name)
            covered, cur_s, cur_e = 0, None, None
            for ks, ke in kids:
                ks, ke = max(ks, start), min(ke, end)
                if ke <= ks:
                    continue
                if cur_e is None or ks > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = ks, ke
                else:
                    cur_e = max(cur_e, ke)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] = out.get(name, 0) + (end - start - covered)
    return {k: v / 1e9 for k, v in out.items()}
