"""The benchmark's workloads and the interface the runner drives them by."""

from __future__ import annotations

import os


class Workload:
    """One workload: input generation from the seed (repeated during
    set-up), a warm-up pass that builds any state and runs the op once, a
    timed op that returns how many items it processed, and end-of-run
    correctness checks. A run times exactly ``n_ops`` ops, a fixed count:
    the ops of a run differ systematically (a later day has a larger
    manifest), and a count set by the clock would change which ops the
    median is taken over."""

    name = ""
    items = ""
    n_ops = 1

    def generate(self, ctx, work: str) -> None:
        raise NotImplementedError

    def warm_up(self, ctx) -> None:
        raise NotImplementedError

    def op(self, ctx) -> int:
        raise NotImplementedError

    def check(self, ctx) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def extra_layer_metrics(self, ctx) -> dict[str, float]:
        return {}


def list_files(root: str) -> list[str]:
    out = []
    for d, _, names in os.walk(root):
        out.extend(os.path.join(d, n) for n in names)
    return out


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in list_files(root))


#: workload name -> class, in the module of the same name
WORKLOADS = {
    "seismic_daily": "SeismicDaily",
    "governed_query": "GovernedQuery",
    "curation_release": "CurationRelease",
}


def load(name: str) -> type:
    import importlib

    module = importlib.import_module(f"perfbench.workloads.{name}")
    return getattr(module, WORKLOADS[name])
