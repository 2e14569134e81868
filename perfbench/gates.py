"""Correctness gates. Each returns a list of problems (empty = pass) and
runs outside every timed span, on labels already pulled to the driver as
a ``{conv_id: entity_id}`` dict."""

from __future__ import annotations

import json
import os

REFERENCE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")
# float noise allowance when comparing against recorded reference scores
F1_TOL = 1e-9
# reference.json records seeds 0 .. REFERENCE_SEEDS-1 of every workload
REFERENCE_SEEDS = 64


def corpus_seed(seed: int) -> int:
    """The recorded seed a ``--seed`` generates its inputs from: any integer
    maps onto the recorded range, so every run's quality is held to an
    exact seed-code value and the same ``--seed`` gives the same inputs."""
    return seed % REFERENCE_SEEDS


def labels_to_dict(clusters_df) -> dict[str, str]:
    """Committed labels as ``{conv_id: entity_id}``; a conversation with
    two labels is an error, which fails the operation."""
    pdf = clusters_df.select("conv_id", "entity_id").toPandas()
    dup = pdf["conv_id"].duplicated()
    if dup.any():
        raise ValueError(f"conv {pdf.loc[dup, 'conv_id'].iloc[0]} carries two labels")
    return dict(zip(pdf["conv_id"], pdf["entity_id"]))


def check_min_id_partition(labels: dict[str, str], expected_ids: set[str]) -> list[str]:
    """Labels cover exactly ``expected_ids``, once each, and every entity
    is labelled by its minimum member (the pipeline's entity_id rule)."""
    problems = []
    got = set(labels)
    if got != expected_ids:
        missing, extra = expected_ids - got, got - expected_ids
        problems.append(
            f"label set differs from corpus: {len(missing)} missing, {len(extra)} unexpected"
            f" (e.g. {sorted(missing)[:1] + sorted(extra)[:1]})"
        )
    members: dict[str, list[str]] = {}
    for conv, ent in labels.items():
        members.setdefault(ent, []).append(conv)
    bad = [e for e, ms in members.items() if min(ms) != e]
    if bad:
        problems.append(f"{len(bad)} entities not labelled by their minimum member (e.g. {bad[0]})")
    return problems


def check_labels_equal(got: dict[str, str], want: dict[str, str]) -> list[str]:
    if got == want:
        return []
    diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    return [f"{len(diff)} conversations labelled differently from the reference run (e.g. {sorted(diff)[0]})"]


def load_reference(workload: str) -> dict:
    with open(REFERENCE_PATH) as f:
        return json.load(f)[workload]


def check_quality(scores: dict[str, float], workload: str, seed: int) -> list[str]:
    """``pair_f1`` / ``cluster_f1`` are not below what the seed code
    produced for this seed; a seed with no recorded value fails."""
    ref = load_reference(workload)
    want = ref["seeds"].get(str(seed))
    if want is None:
        return [f"no recorded quality reference for seed {seed}"]
    return [
        f"{k} {scores[k]:.6f} below the seed-code value {want[k]:.6f}"
        for k in ref["metrics"]
        if scores[k] < want[k] - F1_TOL
    ]
