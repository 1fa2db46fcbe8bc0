"""Workload definitions: which instances are generated for a seed and
which requests are sent to them, in what order and by how many clients.

A request is one (instance, algorithm) pair. A pass is the workload's
fixed request list; the timed loop runs whole passes, so every run
measures the same mix of requests.
"""
from __future__ import annotations

import os
from dataclasses import dataclass

from perfbench import inputs

ALGORITHMS = (
    "riskloc", "squeeze", "autoroot", "hotspot",
    "adtributor", "r_adtributor", "robustspot",
)
# the operators whose signature takes ``derived`` (cli.run_method) and
# that get derived requests. robustspot takes ``derived`` too but is left
# out: its adapt_frame divides by the b measure under ANSI mode, so a leaf
# whose b forecast is clipped to 0 while its b real is positive raises
# DIVIDE_BY_ZERO, and generated a/b pairs can hold such a leaf (see
# README.md).
DERIVED_ALGORITHMS = ("riskloc", "squeeze", "adtributor", "r_adtributor")
# requests of the distributed workload
DISTRIBUTED_ALGORITHMS = ("riskloc", "squeeze", "autoroot")

# Leaf shapes per size. "full" small instances keep the reference S/L
# dimension counts and parameter ranges at 1/16 and 1/8 of their leaves,
# so that a pass fits the benchmark's run budget on 4 cores; "tiny" is
# for the self-tests. The operators collect a leaf frame of at most
# 200,000 rows (their ``driver_rows`` default) to the driver and run
# distributed otherwise; both "large" shapes lie past that bound.
SHAPES = {
    "full": {
        "S": {"a": 5, "b": 6, "c": 5, "d": 4, "e": 5},      # 3,000 leaves
        "L": {"a": 5, "b": 12, "c": 5, "d": 15},            # 4,500 leaves
        "warm": {"a": 3, "b": 4, "c": 3, "d": 3, "e": 2},   # 216 leaves
        "large": {"a": 30, "b": 30, "c": 25, "d": 25},      # 562,500 leaves
        "probe": {"a": 30, "b": 30, "c": 25, "d": 10},      # 225,000 leaves
    },
    "tiny": {
        "S": {"a": 3, "b": 3, "c": 3, "d": 2, "e": 2},
        "L": {"a": 3, "b": 4, "c": 3, "d": 3},
        "warm": {"a": 2, "b": 3, "c": 2, "d": 2, "e": 2},
        "large": {"a": 30, "b": 30, "c": 25, "d": 10},
        "probe": {"a": 30, "b": 30, "c": 25, "d": 10},
    },
}


@dataclass(frozen=True)
class Request:
    instance: inputs.Instance
    algorithm: str

    @property
    def key(self) -> str:
        return f"{self.instance.name}:{self.algorithm}"


@dataclass(frozen=True)
class Workload:
    """Why each workload exists is in README.md."""

    name: str
    concurrent: bool
    distributed: bool


WORKLOADS = {
    w.name: w
    for w in (
        Workload("small_serial", concurrent=False, distributed=False),
        Workload("small_concurrent", concurrent=True, distributed=False),
        Workload("large_distributed", concurrent=False, distributed=True),
    )
}


@dataclass
class Plan:
    """Everything a run sends: the timed pass, the untimed warm-up
    requests and the request that ends each set-up."""

    input_dir: str
    passes: list[Request]
    warmup: list[Request]
    setup_request: Request
    instances: list[inputs.Instance]


def _config(base: dict, dims: dict) -> dict:
    return dict(base, dimensions=dims)


def build(workload: Workload, seed: int, input_dir: str, size: str) -> Plan:
    """Generate the workload's instances for ``seed`` under ``input_dir``
    and return its request plan. Instance ``i`` is generated as slot
    ``i`` (see inputs.generate)."""
    shapes = SHAPES[size]
    os.makedirs(input_dir, exist_ok=True)
    made: list[inputs.Instance] = []

    def make(name, base, shape, derived=False):
        inst = inputs.generate(input_dir, name, _config(base, shapes[shape]),
                               seed, len(made), derived)
        made.append(inst)
        return inst

    warm = make("warm", inputs.S_LIKE, "warm")
    if workload.distributed:
        # the distributed path's first calls run ~1.5x slower than later
        # ones, so one untimed pass goes first
        large = make("large", inputs.L_LIKE, "large")
        passes = [Request(large, a) for a in DISTRIBUTED_ALGORITHMS]
        warmup = list(passes)
    else:
        # one fresh instance per request: every operator gets a plain
        # instance, S-like and L-like alternating along the operator list,
        # then every operator of DERIVED_ALGORITHMS an S-like a/b pair
        passes = []
        for k, algo in enumerate(ALGORITHMS):
            shape = "SL"[k % 2]
            base = inputs.S_LIKE if shape == "S" else inputs.L_LIKE
            passes.append(Request(make(f"plain{len(made)}", base, shape), algo))
        for algo in DERIVED_ALGORITHMS:
            inst = make(f"derived{len(made)}", inputs.S_LIKE, "S", derived=True)
            passes.append(Request(inst, algo))
        # no untimed warm-up: an operator's first call in a process runs
        # 1-5 s longer than later ones while the JVM compiles its plans,
        # and warming all 11 up cost 24 s a run, twice what it took out
        # of the timed pass
        warmup = []
    inputs.write_labels(input_dir, made)
    return Plan(input_dir, passes, warmup, Request(warm, "riskloc"), made)


def probe_instance(seed: int, out_dir: str, size: str) -> inputs.Instance:
    """The frame past the driver bound that the traced run's layer
    probes (functions.scores, plans.cuboid) run on."""
    os.makedirs(out_dir, exist_ok=True)
    return inputs.generate(
        out_dir, "probe", _config(inputs.L_LIKE, SHAPES[size]["probe"]),
        seed, 1_000,
    )
