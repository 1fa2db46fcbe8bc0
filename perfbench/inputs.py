"""Seeded RCA instance files for the benchmark.

The generator is plain NumPy on the driver, so the files depend only on
the seed: not on the Spark session, its core count or the code under
test. It follows the reference's generate_dataset.py recipe (Weibull
reals, zero rows, relative forecast noise, a real/predict swap, then
anomalies planted in randomly chosen cuboids), the same recipe the
program's own ``riskloc_spark.generator`` follows with Spark ``rand()``
columns. That generator is not used here: its random streams follow the
partition count of ``spark.range``, so its instances change with the
core count.

Each instance is written as the CLI reads it: ``<name>.csv`` (plain) or
``<name>.a.csv`` + ``<name>.b.csv`` (derived), with the planted label
in ``injection_info.csv``.
"""
from __future__ import annotations

import csv
import hashlib
import math
import os
from dataclasses import dataclass

import numpy as np

# Reference S and L configurations (generate_dataset.py:34-58): S has 5
# dimensions / 48,000 leaves, L has 4 dimensions / 36,000 leaves. The
# workloads keep the dimension counts and ranges at their own leaf counts.
S_LIKE = {
    "dimensions": {"a": 10, "b": 12, "c": 10, "d": 8, "e": 5},
    "noise_level": (0.0, 0.25),
    "anomaly_severity": (0.2, 1.0),
    "anomaly_deviation": (0.0, 0.1),
    "num_anomaly": (1, 3),
    "num_anomaly_elements": (1, 3),
    "only_last_layer": False,
}
L_LIKE = {
    "dimensions": {"a": 10, "b": 24, "c": 10, "d": 15},
    "noise_level": (0.0, 0.1),
    "anomaly_severity": (0.5, 1.0),
    "anomaly_deviation": (0.0, 0.0),
    "num_anomaly": (1, 5),
    "num_anomaly_elements": (1, 1),
    "only_last_layer": True,
}


# Relative standard deviation of the seed's jitter on every measure: small
# enough that a seed changes no instance's answers in general, so runs on
# different seeds measure the same work. When the seed drew the leaf
# values, latency and throughput spread between seeds by 0.2-0.3 of their
# medians, about half of it from the data.
JITTER = 1e-3


@dataclass(frozen=True)
class Instance:
    """One generated case on disk: the base path (no extension), whether
    it is a derived a/b pair, and the planted label."""

    base: str
    derived: bool
    label: str

    @property
    def name(self) -> str:
        return os.path.basename(self.base)


def _pick_anomalies(rng, dimensions, num_anomaly, num_anomaly_elements,
                    only_last_layer):
    """Anomaly locations (ref generate_dataset.py:102-162): per anomaly a
    sorted dimension subset (cuboid) and element tuples that do not
    overlap earlier anomalies on a shared dimension."""
    dims = list(dimensions)
    anomalies: list[tuple[list[str], list[tuple[str, ...]]]] = []
    for _ in range(int(rng.integers(num_anomaly[0], num_anomaly[1] + 1))):
        level = len(dims) if only_last_layer else int(rng.integers(1, len(dims) + 1))
        n_elements = int(
            rng.integers(num_anomaly_elements[0], num_anomaly_elements[1] + 1)
        )
        for _attempt in range(50):
            cuboid = sorted(rng.choice(dims, size=level, replace=False).tolist())
            if level == len(dims) or cuboid not in [c for c, _ in anomalies]:
                break
        else:
            continue
        avail = {}
        for d in cuboid:
            taken = {int(e[c.index(d)][len(d):]) for c, es in anomalies if d in c
                     for e in es}
            avail[d] = sorted(set(range(1, dimensions[d] + 1)) - taken)
        if not all(avail.values()):
            continue
        for _attempt in range(50):
            elements = list(zip(*(
                [d + str(avail[d][int(rng.integers(len(avail[d])))])
                 for _ in range(n_elements)]
                for d in cuboid
            )))
            if len(set(elements)) == n_elements:
                anomalies.append((cuboid, elements))
                break
    return anomalies


def _leaf_codes(dimensions: dict[str, int]) -> dict[str, np.ndarray]:
    """Mixed-radix decode of the leaf index: 1-based code per dimension."""
    n = math.prod(dimensions.values())
    idx = np.arange(n)
    codes, stride = {}, 1
    for d, size in dimensions.items():
        codes[d] = (idx // stride) % size + 1
        stride *= size
    return codes


def _anomaly_mask(codes, cuboid, elements) -> np.ndarray:
    n = len(next(iter(codes.values())))
    mask = np.zeros(n, dtype=bool)
    for element in elements:
        m = np.ones(n, dtype=bool)
        for d, v in zip(cuboid, element):
            m &= codes[d] == int(v[len(d):])
        mask |= m
    return mask


def _normal_measures(rng, n, alpha, zero_rate, noise):
    """Weibull reals with zero rows, forecast noise and the symmetric
    real/predict swap (ref generate_dataset.py:240-259)."""
    real = 100.0 * rng.weibull(alpha, n)
    real[rng.random(n) < zero_rate] = 0.0
    predict = real * (1.0 + rng.standard_normal(n) * noise)
    swap = rng.random(n) >= 0.5
    real, predict = np.where(swap, predict, real), np.where(swap, real, predict)
    return real, np.maximum(predict, 0.0)


def _label(anomalies) -> str:
    return ";".join(
        "&".join(sorted(f"{d}={v}" for d, v in zip(cuboid, element)))
        for cuboid, elements in anomalies
        for element in elements
    )


def _write_csv(path, dimensions, codes, real, predict, order) -> None:
    """Rows are written in ``order``. Measures are written in their
    shortest round-trip repr, so the bytes depend only on the values and
    the reader gets them exactly."""
    cols = [np.char.add(d, codes[d][order].astype(str)) for d in dimensions]
    cols += [real[order].astype(str), predict[order].astype(str)]
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(",".join([*dimensions, "real", "predict"]) + "\n")
        fh.write("\n".join(map(",".join, zip(*(c.tolist() for c in cols)))))
        fh.write("\n")


def generate(out_dir: str, name: str, config: dict, seed: int, slot: int,
             derived: bool = False) -> Instance:
    """Write instance number ``slot`` of a run with ``seed`` under
    ``out_dir`` and return it.

    The instance's parameters (zero rate, noise level, Weibull shape,
    severities) and its planted anomalies (count, cuboids, elements) are
    drawn from the reference ranges by a stream that depends on ``slot``
    alone, and so are the leaf values. The seed (with the slot) draws the
    row order and a relative jitter of ``JITTER`` on every measure, so
    each seed writes different files that pose the same root-cause
    questions on the same data up to the jitter, and runs on different
    seeds do the same work.

    Plain: anomalous leaves have one measure scaled by
    ``max(1 - (N(0,1)*deviation + severity), 0)`` in the direction of the
    normal error (ref generate_dataset.py:260-276). Derived: a success
    count ``a`` over a request count ``b``; anomalous leaves lose that
    share of their successes, so the ratio a/b drops there."""
    shape_rng = np.random.default_rng([slot])
    rng = np.random.default_rng([slot, 1])
    seed_rng = np.random.default_rng([seed, slot])
    dimensions = config["dimensions"]
    n = math.prod(dimensions.values())
    zero_rate = shape_rng.uniform(0.0, 0.25)
    noise = shape_rng.uniform(*config["noise_level"])
    alpha = shape_rng.uniform(0.5, 1.0)
    codes = _leaf_codes(dimensions)
    anomalies = _pick_anomalies(
        shape_rng, dimensions, config["num_anomaly"],
        config["num_anomaly_elements"], config["only_last_layer"],
    )
    severities = [
        (shape_rng.uniform(*config["anomaly_severity"]) + noise,
         shape_rng.uniform(*config["anomaly_deviation"]))
        for _ in anomalies
    ]

    def scale(i: int, k: int) -> np.ndarray:
        severity, deviation = severities[i]
        return np.maximum(1.0 - (rng.standard_normal(k) * deviation + severity), 0.0)

    def jitter(x: np.ndarray) -> np.ndarray:
        return x * (1.0 + JITTER * seed_rng.standard_normal(n))

    base = os.path.join(out_dir, name)
    if derived:
        real_b, predict_b = _normal_measures(rng, n, alpha, zero_rate, noise)
        rate = rng.uniform(0.85, 0.99, n)
        predict_a = predict_b * rate
        real_a = real_b * rate * (1.0 + rng.standard_normal(n) * noise / 4)
        for i, (cuboid, elements) in enumerate(anomalies):
            m = _anomaly_mask(codes, cuboid, elements)
            real_a[m] = real_b[m] * rate[m] * scale(i, int(m.sum()))
        order = seed_rng.permutation(n)
        _write_csv(base + ".a.csv", dimensions, codes, jitter(real_a),
                   jitter(predict_a), order)
        _write_csv(base + ".b.csv", dimensions, codes, jitter(real_b),
                   jitter(predict_b), order)
    else:
        real, predict = _normal_measures(rng, n, alpha, zero_rate, noise)
        direction = real.sum() > predict.sum()
        for i, (cuboid, elements) in enumerate(anomalies):
            m = _anomaly_mask(codes, cuboid, elements)
            if direction:
                predict[m] = real[m] * scale(i, int(m.sum()))
            else:
                real[m] = predict[m] * scale(i, int(m.sum()))
        order = seed_rng.permutation(n)
        _write_csv(base + ".csv", dimensions, codes, jitter(real),
                   jitter(predict), order)
    return Instance(base, derived, _label(anomalies))


def write_labels(out_dir: str, instances: list[Instance]) -> None:
    """injection_info.csv in the layout ``cli.injection_label`` reads."""
    with open(os.path.join(out_dir, "injection_info.csv"), "w",
              encoding="utf-8", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["timestamp", "set"])
        for inst in instances:
            w.writerow([inst.name, inst.label])


def checksum(out_dir: str) -> str:
    """sha256 over every input file's name and bytes, in name order."""
    h = hashlib.sha256()
    for fname in sorted(os.listdir(out_dir)):
        h.update(fname.encode() + b"\0")
        with open(os.path.join(out_dir, fname), "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def instance_checksum(inst: Instance) -> str:
    """sha256 over an instance's label and the bytes of its files."""
    h = hashlib.sha256(inst.label.encode() + b"\0")
    for suffix in ((".a.csv", ".b.csv") if inst.derived else (".csv",)):
        with open(inst.base + suffix, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()
