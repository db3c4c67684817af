"""Seed discipline of the input generators: the same seed gives the
same inputs and counts, another seed gives other inputs."""

from __future__ import annotations

import filecmp
import os

import movielens_gen
import workload_gate


def _generate(tmp_path, name, seed):
    out = str(tmp_path / name)
    enrichment, counts = movielens_gen.generate(out, seed, scale=0.05)
    return out, enrichment, counts


def test_movielens_same_seed_same_inputs(tmp_path):
    a, enr_a, counts_a = _generate(tmp_path, "a", 3)
    b, enr_b, counts_b = _generate(tmp_path, "b", 3)
    for f in ("movies.csv", "ratings.csv", "links.csv"):
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
    assert enr_a == enr_b
    assert counts_a == counts_b


def test_movielens_other_seed_other_inputs(tmp_path):
    a, enr_a, _ = _generate(tmp_path, "a", 3)
    b, enr_b, _ = _generate(tmp_path, "b", 4)
    assert not filecmp.cmp(os.path.join(a, "ratings.csv"), os.path.join(b, "ratings.csv"), shallow=False)
    assert enr_a != enr_b


def test_movielens_shape_at_full_scale(tmp_path):
    enrichment, c = movielens_gen.generate(str(tmp_path / "ml"), 7, scale=1.0)
    assert c.movies == 9742
    assert 100_000 < c.ratings < 102_000
    assert c.genres == 20
    assert c.null_release_year == 13
    assert c.no_genres == 34
    assert c.unrated_movies >= 18
    assert c.budget == 500
    # ~1% of the enrichment budget misses every match strategy
    assert 490 <= c.enriched_movies < 500
    assert len(enrichment) == c.enriched_movies
    # the three strategies are all represented
    keys = {r[0] for r in enrichment}
    assert any(k.startswith("Zz Alt") for k in keys)  # IMDb ID fallback


def test_gate_batches_same_seed_same_cut():
    assert workload_gate.corpus_batches(5, 4) == workload_gate.corpus_batches(5, 4)
    assert workload_gate.corpus_batches(5, 4) != workload_gate.corpus_batches(6, 4)


def test_gate_batches_plant_dups_inside_and_across_batches():
    batches = workload_gate.corpus_batches(5, 4)
    where = {r[0]: b for b, rows in enumerate(batches) for r in rows}
    dups = [d for d in where if d % 11 == 0 and d >= 7]
    same = sum(where[d] == where[d - 7] for d in dups)
    later = sum(where[d] > where[d - 7] for d in dups)
    assert same > 0 and later > 0
    assert sum(len(b) for b in batches) == 4 * workload_gate.BATCH_DOCS
