"""In-memory spans, layer self times, and the single-process registry fold.

A span is ``(name, start_s, end_s, parent, run_id)`` on the host wall
clock.  The benchmark records a span for each traced call into the
engine and adds the Spark job and stage intervals of that call (see
``sparkstats``) as its children and grandchildren.  Each span belongs to
a layer.  A layer's self time is the time during which one of its spans
is the deepest active span of the tree, so the layer self times of one
tree sum to the root span's duration.  Where spans of equal depth
overlap (parallel stages), the earlier layer in ``priority`` takes the
time.
"""

from __future__ import annotations

import re
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple[str, float, float, str | None, str]] = []

    def add(self, name: str, start: float, end: float, parent: str | None) -> None:
        self.spans.append((name, start, end, parent, self.run_id))

    def tree(self, root: str) -> list[tuple]:
        """The spans of the tree rooted at span ``root``."""
        names = {root}
        out = [s for s in self.spans if s[0] == root]
        grew = True
        while grew:
            grew = False
            for s in self.spans:
                if s[3] in names and s[0] not in names:
                    names.add(s[0])
                    out.append(s)
                    grew = True
        return out


def layer_self_times(spans, layer_of, priority: list[str]) -> dict[str, float]:
    """Self time per layer of one span tree, clipped to the root span."""
    by_name = {s[0]: s for s in spans}
    root = next(s for s in spans if s[3] not in by_name)

    def depth(s) -> int:
        d = 0
        while s[3] in by_name:
            s = by_name[s[3]]
            d += 1
        return d

    rank = {layer: i for i, layer in enumerate(priority)}
    marked = [(s[1], s[2], depth(s), layer_of(s)) for s in spans]
    cuts = sorted({t for s in marked for t in s[:2] if root[1] <= t <= root[2]} | {root[1], root[2]})
    out = dict.fromkeys(priority, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        live = [m for m in marked if m[0] <= a and m[1] >= b]
        if live:
            best = max(live, key=lambda m: (m[2], -rank[m[3]]))
            out[best[3]] += b - a
    return out


def _snake(name: str) -> str:
    return re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()


def step_key(chain: str, step: str) -> str:
    """``registry.step.<chain>.<step>_s``; a step name that repeats its
    chain's name as a prefix (``strip_blank_lines_in_priority`` in
    ``stripBlankLines``) drops it, keeping names within 64 characters."""
    prefix = _snake(chain) + "_"
    if step.startswith(prefix):
        step = step[len(prefix):]
    return f"registry.step.{chain}.{step}_s"


PRE_STEP = "registry.step.pre.to_half_width_s"


def _steps(mode: str) -> list[tuple]:
    from patent_decision_document_converter_spark.plans.registry import MODES, REGISTRY

    return [
        (step_key(chain, st.name), st.fn, st.args)
        for chain in MODES[mode]
        for st in REGISTRY.get(chain)
        if st.enabled
    ]


def step_keys(mode: str) -> list[str]:
    return [PRE_STEP] + [key for key, _, _ in _steps(mode)]


def step_fold(texts: list[str], mode: str) -> dict[str, float]:
    """Time every enabled step of ``mode`` over ``texts`` in this process.

    Replays the fused pipeline step by step — the ``to_half_width``
    pre-step, then each enabled step of each chain as
    ``str(fn(current, *args))`` — and ``typo.check`` on the raw run text,
    which the job runs next to the pipeline.  Returns seconds per
    :func:`step_keys` key plus ``typo.check_s``."""
    from patent_decision_document_converter_spark.functions import typo, widths

    steps = _steps(mode)
    acc = dict.fromkeys(step_keys(mode) + ["typo.check_s"], 0.0)
    clock = time.perf_counter
    for text in texts:
        t0 = clock()
        cur = widths.to_half_width(text)
        t1 = clock()
        acc[PRE_STEP] += t1 - t0
        try:
            for key, fn, args in steps:
                cur = str(fn(cur, *args))
                t2 = clock()
                acc[key] += t2 - t1
                t1 = t2
        except Exception:  # the job's fail-safe returns the input; timing stops here
            pass
        t0 = clock()
        typo.check(text)
        acc["typo.check_s"] += clock() - t0
    return acc
