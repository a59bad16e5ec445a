"""``scripts/ann_recall.py`` and ``scripts/ann_scaling.py`` write their
records through ``write_record``, which refuses to replace a record
with one that lacks a fixture label or leg the existing record holds:
a one-fixture spot check must not shrink the committed evidence.  No
SparkSession needed."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from ann_recall import write_record  # noqa: E402


def _labels(rec: dict) -> set:
    return set(rec["fixtures"])


def _legs(rec: dict) -> set:
    return {(l["label"], l["k_cells"]) for l in rec["legs"]}


def test_first_write_and_superset_rewrite(tmp_path):
    path = str(tmp_path / "RECALL.json")
    write_record(path, {"fixtures": {"sf0.1": 1}}, _labels)
    write_record(path, {"fixtures": {"sf0.1": 2, "16x": 3}}, _labels)
    assert json.load(open(path)) == {"fixtures": {"sf0.1": 2, "16x": 3}}


def test_refuses_to_drop_a_fixture_label(tmp_path):
    path = str(tmp_path / "RECALL.json")
    full = {"fixtures": {"sf0.1": 1, "16x": 2, "clustered": 3}}
    write_record(path, full, _labels)
    with pytest.raises(SystemExit, match="16x"):
        write_record(path, {"fixtures": {"sf0.1": 9}}, _labels)
    assert json.load(open(path)) == full


def test_refuses_to_drop_a_scaling_leg(tmp_path):
    path = str(tmp_path / "ANN_SCALING.json")
    legs = [{"label": "uniform-16x", "k_cells": k} for k in (32, 128)]
    write_record(path, {"legs": legs}, _legs)
    with pytest.raises(SystemExit, match="128"):
        write_record(path, {"legs": legs[:1]}, _legs)
    assert json.load(open(path)) == {"legs": legs}
