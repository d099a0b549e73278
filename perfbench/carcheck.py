"""Output checks for one car_pipeline pass (untimed).

No oracle replays MLlib training, so the checks are invariants every
correct pass satisfies: the split partitions the validation cars, the
embeddings and losses are finite, the submission prices exactly the
held-out cars, and the competition score is in range.
"""
import glob
import math
import os
import re

import pyarrow.parquet as pq

import inputs


def _ids(path):
    return pq.read_table(path, columns=["carid"]).column("carid").to_pylist()


def _first_field(path):
    with open(path, encoding="utf-8") as f:
        return [line.split("\t")[0] for line in f if line.strip()]


def _report(stdout):
    """The `first` stage's metrics table, as printed by Dataset.show()."""
    rows = [l for l in open(stdout, encoding="utf-8", errors="replace") if l.startswith("|")]
    if len(rows) < 2:
        return None
    head = [c.strip() for c in rows[0].strip().strip("|").split("|")]
    vals = [c.strip() for c in rows[1].strip().strip("|").split("|")]
    return dict(zip(head, vals))


def _finite(xs):
    return all(x is not None and math.isfinite(x) for x in xs)


def check(out, data, stages):
    problems = [f"{s['stage']} exited with rc={s['rc']}" for s in stages if s["rc"] != 0]
    if problems or len(stages) < 2:
        return problems or ["pipeline did not finish"]
    valid = set(int(x) for x in _first_field(os.path.join(data, inputs.CAR_VALID)))

    # preprocess: train/dev partition the validation cars; embeddings cover the vocabulary
    train, dev = _ids(f"{out}/train_dataset"), _ids(f"{out}/dev_dataset")
    if set(train) & set(dev) or set(train) | set(dev) != valid or len(train) + len(dev) != len(valid):
        problems.append("preprocess: train/dev split does not partition the validation cars")
    n_vocab = pq.read_table(f"{out}/entity_vocab").num_rows
    emb = pq.read_table(f"{out}/embedding/entity")
    if emb.num_rows != n_vocab or not _finite(x for v in emb.column("vector").to_pylist() for x in v):
        problems.append("preprocess: entity embeddings do not cover the vocabulary with finite values")
    if pq.read_table(f"{out}/triplets").num_rows == 0:
        problems.append("preprocess: no triplets")
    loss = re.search(r"epochLoss=([^ \n]*)", open(stages[0]["stdout"], encoding="utf-8").read())
    if not loss or not _finite(float(x) for x in loss.group(1).split(",") if x):
        problems.append("preprocess: epoch losses missing or not finite")

    # first: the submission prices exactly the held-out cars
    sub = []
    for part in sorted(glob.glob(f"{out}/submission/part-*")):
        with open(part, encoding="utf-8") as f:
            sub += [l.rstrip("\n").split("\t") for l in f if l.strip()]
    ids = [int(r[0]) for r in sub]
    if len(ids) != len(set(ids)) or set(ids) != set(dev):
        problems.append("first: submission does not cover exactly the held-out validation cars")
    if not _finite(float(r[1]) for r in sub):
        problems.append("first: submission has non-finite prices")
    # The printed report scores z-scored labels, where the reference's
    # prediction-denominator APE can go negative; the competition score
    # is therefore checked on the prices users receive, against the label
    # (newprice) of each held-out car.
    rep = _report(stages[1]["stdout"])
    if rep is None or not _finite(float(rep[k]) for k in ("mape", "score")):
        problems.append("first: metrics report missing or not finite")
    label = {int(l[0]): float(l[19]) for l in
             (x.split("\t") for x in open(os.path.join(data, inputs.CAR_VALID), encoding="utf-8"))}
    ape = [abs(label[int(r[0])] - float(r[1])) / float(r[1]) for r in sub if float(r[1]) != 0]
    if ape:
        mape = sum(ape) / len(ape)
        score = 0.2 * (1 - mape) + 0.8 * sum(a <= 0.05 for a in ape) / len(ape)
        if not math.isfinite(mape) or not 0.0 <= score <= 1.0:
            problems.append(f"first: submission mape={mape} score={score} out of range")

    return problems
