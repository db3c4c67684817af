"""SYNTHETIC MovieLens-shaped inputs for the ``etl_warehouse`` workload.

The reference ETL reads the ml-latest-small CSVs (movies, ratings,
links) and enriches movies from the OMDb API. Neither is shipped with
this repository, so this module generates look-alike data from a seed,
following the statistics in FIXTURES.md. Nothing here is real MovieLens
or OMDb data.

Size is given as a multiple of ml-latest-small: ``scale=1.0`` gives
9,742 movies, about 100.8k ratings from 610 users, 9,742 links and a
500-movie enrichment budget, the size for which BASELINE.md quotes the
reference's ~32 s compute-bound extract + load.

Shape kept from FIXTURES.md:

- titles with trailing articles (", The", ", A", ", An", ", Le", ", La",
  ", Les"), parenthesised alternate titles, embedded commas, accented
  characters, 4-digit numbers mid-title, and a few titles with no year;
- 1-6 genres per movie from the 19-genre vocabulary, plus the
  ``(no genres listed)`` sentinel;
- every user rates at least 20 movies, movie popularity is skewed,
  18 movies (at 1x) get no rating, rows are ordered by (userId, movieId),
  rating values follow the reference histogram;
- dirty rating rows: non-numeric or empty userId/movieId/rating (dropped
  by the ETL) and non-numeric timestamps (kept with a null timestamp);
- links 1:1 with movies, zero-padded imdbIds, some null tmdbIds.

The OMDb-shaped enrichment table covers the first ``budget`` movies by
movieId with the reference's match mix: ~70% Title+Year, ~20% Title Only
(the API's year differs, or the title has no year), ~9% IMDb ID (the
API's title differs) and ~1% misses, with a small director pool so
``movies_by_director`` has groups of three or more.

:func:`generate` writes the three CSVs and returns the rows of the
enrichment table plus the counts the written warehouse must have.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

ML_SMALL_MOVIES = 9742
ML_SMALL_RATINGS = 100836
ML_SMALL_USERS = 610
ML_SMALL_UNRATED = 18
ML_SMALL_NO_GENRES = 34
ML_SMALL_NO_YEAR = 13
ML_SMALL_NULL_TMDB = 8
REFERENCE_API_BUDGET = 500

GENRES = (
    "Action Adventure Animation Children Comedy Crime Documentary Drama "
    "Fantasy Film-Noir Horror IMAX Musical Mystery Romance Sci-Fi Thriller "
    "War Western"
).split()
NO_GENRES = "(no genres listed)"

# Article forms before the year, with their ml-latest-small counts.
_ARTICLES = (("The", 1648), ("A", 148), ("An", 27), ("Le", 8), ("La", 8), ("Les", 4))

_WORDS = (
    "night day river city dream shadow light storm heart road star house "
    "king queen garden winter summer island ghost war love secret empire "
    "return journey letter mirror silence fire water stone glass iron gold "
    "silver blue red black white last first lost hidden broken wild quiet "
    "little great young old dark bright long short far near strange "
    "perfect final second third morning evening midnight ocean mountain "
    "valley forest desert harbor station bridge tower castle village "
    "street market window door game hunter stranger soldier dancer painter "
    "doctor teacher thief lawyer pilot sailor детектив café élan naïve "
    "señor über fiancée déjà"
).split()

# Reference rating histogram (value -> count), FIXTURES.md.
_RATING_HIST = {
    0.5: 1370, 1.0: 2811, 1.5: 1791, 2.0: 7551, 2.5: 5550,
    3.0: 20047, 3.5: 13136, 4.0: 26818, 4.5: 8551, 5.0: 13211,
}

# Python mirror of functions/titles.py, for the enrichment keys only.
_YEAR_EXTRACT = re.compile(r"\((\d{4})\)\s*$")
_YEAR_STRIP = re.compile(r"\s*\(\d{4}\)\s*$")
_PAREN = re.compile(r"\s*\([^)]*\)")
_ARTICLE = re.compile(r"^(.*), (The|A|An|Le|La|Les)$")
_EDGE = re.compile(r"^[, ]+|[, ]+$")


def _clean_title(title: str) -> str:
    if _YEAR_EXTRACT.search(title):
        return _YEAR_STRIP.sub("", title).strip()
    return title


def _normalize(title: str) -> str:
    t = _PAREN.sub("", title.strip()).strip()
    t = _ARTICLE.sub(r"\2 \1", t)
    t = re.sub(r" +", " ", t).strip()
    return _EDGE.sub("", t)


@dataclass(frozen=True)
class MovieLensCounts:
    """Counts the warehouse built from the generated CSVs must have."""

    movies: int
    genres: int
    movie_genres: int
    ratings: int
    null_release_year: int
    no_genres: int
    unrated_movies: int
    enriched_movies: int
    budget: int


def _titles(rng: np.random.Generator, n: int) -> tuple[list[str], list[int | None]]:
    """Unique titles with the FIXTURES.md edge cases, and their years."""
    seen: set[str] = set()
    bases: list[str] = []
    while len(bases) < n:
        k = int(rng.integers(1, 5))
        words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), size=k)]
        if rng.random() < 0.03:  # a 4-digit number mid-title
            words.insert(int(rng.integers(0, k + 1)), str(int(rng.integers(1900, 2100))))
        base = " ".join(words).title()
        if rng.random() < 0.04:  # embedded comma
            base = base.replace(" ", ", ", 1) if " " in base else base + ", Part " + str(len(bases))
        key = base.lower()
        if key in seen:
            continue
        seen.add(key)
        bases.append(base)

    scale = n / ML_SMALL_MOVIES
    article_of = np.array([""] * n, dtype=object)
    order = rng.permutation(n)
    at = 0
    for art, count in _ARTICLES:
        c = max(1, round(count * scale))
        article_of[order[at:at + c]] = art
        at += c
    no_year = set(rng.choice(n, size=max(1, round(ML_SMALL_NO_YEAR * scale)), replace=False).tolist())
    years = rng.integers(1902, 2019, size=n)

    titles: list[str] = []
    out_years: list[int | None] = []
    for i, base in enumerate(bases):
        t = base
        if article_of[i]:
            t = f"{t}, {article_of[i]}"
        if rng.random() < 0.06:  # parenthesised alternate title
            alt = " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), size=2)).title()
            if rng.random() < 0.3:
                alt = f"{alt}, La"
            t = f"{t} ({alt})"
        if i in no_year:
            titles.append(t)
            out_years.append(None)
        else:
            titles.append(f"{t} ({int(years[i])})")
            out_years.append(int(years[i]))
    return titles, out_years


def _genres(rng: np.random.Generator, n: int) -> list[str]:
    n_none = max(1, round(ML_SMALL_NO_GENRES * n / ML_SMALL_MOVIES))
    none = set(rng.choice(n, size=n_none, replace=False).tolist())
    out = []
    for i in range(n):
        if i in none:
            out.append(NO_GENRES)
            continue
        k = int(rng.choice([1, 2, 3, 4, 5, 6], p=[0.25, 0.33, 0.24, 0.11, 0.05, 0.02]))
        picks = rng.choice(len(GENRES), size=k, replace=False)
        out.append("|".join(GENRES[j] for j in sorted(picks)))
    return out


def _ratings(
    rng: np.random.Generator, n_movies: int, n_users: int, n_ratings: int, n_unrated: int
) -> pd.DataFrame:
    unrated = rng.choice(n_movies, size=n_unrated, replace=False)
    rated = np.setdiff1d(np.arange(n_movies), unrated)
    # Zipf-like popularity over a random order of the rated movies.
    weights = 1.0 / np.arange(1, len(rated) + 1) ** 0.9
    weights = weights[rng.permutation(len(rated))]
    weights /= weights.sum()
    # Heavy-tailed per-user counts, each at least 20 (dataset guarantee).
    extra = rng.lognormal(mean=3.5, sigma=1.2, size=n_users)
    extra = extra / extra.sum() * max(0, n_ratings - 20 * n_users)
    counts = np.minimum(20 + np.floor(extra).astype(int), len(rated))
    values = np.array(sorted(_RATING_HIST))
    probs = np.array([_RATING_HIST[v] for v in values], dtype=float)
    probs /= probs.sum()

    per_user = [
        np.sort(rng.choice(rated, size=int(c), replace=False, p=weights)) for c in counts
    ]
    # Every movie outside ``unrated`` gets at least one rating.
    hit = np.zeros(n_movies, dtype=bool)
    for m in per_user:
        hit[m] = True
    for m in rated[~hit[rated]]:
        u = int(rng.integers(0, n_users))
        per_user[u] = np.sort(np.append(per_user[u], m))

    users = np.concatenate([np.full(len(m), u + 1) for u, m in enumerate(per_user)])
    movies = np.concatenate(per_user) + 1
    n = len(users)
    return pd.DataFrame(
        {
            "userId": users.astype(str),
            "movieId": movies.astype(str),
            "rating": rng.choice(values, size=n, p=probs).astype(str),
            "timestamp": rng.integers(828124800, 1537799250, size=n).astype(str),
        }
    )


def _dirty(df: pd.DataFrame, rng: np.random.Generator, n_each: int) -> pd.DataFrame:
    """Blank or garble keys in a few rows (dropped by the ETL) and
    garble a few timestamps (kept, null)."""
    rows = rng.choice(len(df), size=4 * n_each, replace=False)
    bad_user, bad_movie, bad_rating, bad_ts = np.split(rows, 4)
    df.loc[bad_user, "userId"] = np.where(np.arange(n_each) % 2 == 0, "", "user?")
    df.loc[bad_movie, "movieId"] = np.where(np.arange(n_each) % 2 == 0, "", "n/a")
    df.loc[bad_rating, "rating"] = np.where(np.arange(n_each) % 2 == 0, "", "five")
    df.loc[bad_ts, "timestamp"] = "yesterday"
    return df


def generate(out_dir: str, seed: int, scale: float = 1.0) -> tuple[list[tuple], MovieLensCounts]:
    """Write movies.csv, ratings.csv and links.csv under ``out_dir``.

    Returns (enrichment rows in ``ENRICHMENT_SCHEMA`` order, counts).
    """
    rng = np.random.default_rng(seed)
    n = max(100, round(ML_SMALL_MOVIES * scale))
    n_users = max(10, round(ML_SMALL_USERS * scale))
    n_unrated = max(1, round(ML_SMALL_UNRATED * scale))
    budget = max(20, round(REFERENCE_API_BUDGET * scale))

    titles, years = _titles(rng, n)
    genres = _genres(rng, n)
    movie_ids = np.arange(1, n + 1)
    imdb = rng.choice(np.arange(1000, 9_999_999), size=n, replace=False)
    tmdb = rng.integers(2, 500_000, size=n).astype(object)
    tmdb[rng.choice(n, size=max(1, round(ML_SMALL_NULL_TMDB * scale)), replace=False)] = None

    os.makedirs(out_dir, exist_ok=True)
    pd.DataFrame({"movieId": movie_ids, "title": titles, "genres": genres}).to_csv(
        os.path.join(out_dir, "movies.csv"), index=False
    )
    pd.DataFrame(
        {"movieId": movie_ids, "imdbId": [f"{i:07d}" for i in imdb], "tmdbId": tmdb}
    ).to_csv(os.path.join(out_dir, "links.csv"), index=False)

    ratings = _ratings(rng, n, n_users, round(ML_SMALL_RATINGS * scale), n_unrated)
    ratings = _dirty(ratings, rng, max(2, round(4 * scale)))
    ratings.to_csv(os.path.join(out_dir, "ratings.csv"), index=False)
    kept = ratings[["userId", "movieId", "rating"]].apply(pd.to_numeric, errors="coerce").dropna()

    enrichment, misses = _enrichment(rng, titles, years, imdb, budget)
    tokens = [g.split("|") for g in genres]
    counts = MovieLensCounts(
        movies=n,
        genres=len({t for ts in tokens for t in ts}),
        movie_genres=sum(len(ts) for ts in tokens),
        ratings=len(kept),
        null_release_year=sum(y is None for y in years),
        no_genres=genres.count(NO_GENRES),
        unrated_movies=n - kept["movieId"].nunique(),
        enriched_movies=budget - misses,
        budget=budget,
    )
    return enrichment, counts


def _enrichment(
    rng: np.random.Generator,
    titles: list[str],
    years: list[int | None],
    imdb: np.ndarray,
    budget: int,
) -> tuple[list[tuple], int]:
    """OMDb-shaped rows for the first ``budget`` movies (by movieId)."""
    n_directors = max(8, budget // 12)
    directors = [
        f"{_WORDS[i].title()} {_WORDS[j].title()}son"
        for i, j in zip(range(n_directors), rng.permutation(len(_WORDS))[:n_directors])
    ]
    directors[0] = "N/A"
    directors[1] = f"{directors[2]}, {directors[3]}"  # multi-name credit
    rows: list[tuple] = []
    misses = 0
    for i in range(budget):
        u = rng.random()
        if u < 0.01:
            misses += 1
            continue
        norm = _normalize(_clean_title(titles[i]))
        year = years[i]
        if year is None or u < 0.71:
            key_title, key_year = norm, year  # Title+Year (Title Only if no year)
        elif u < 0.91:
            key_title, key_year = norm, year + 1  # Title Only: API year differs
        else:
            key_title, key_year = f"Zz Alt {i}", year  # IMDb ID: API title differs
        rating = "N/A" if rng.random() < 0.02 else f"{rng.integers(10, 100) / 10:.1f}"
        box = "N/A" if rng.random() < 0.2 else f"${int(rng.integers(10_000, 900_000_000)):,}"
        rows.append(
            (
                key_title,
                key_year,
                f"tt{int(imdb[i]):07d}",
                directors[int(rng.integers(0, n_directors))],
                f"A story about {titles[i].lower()}.",
                box,
                rating,
                f"{int(rng.integers(70, 190))} min",
            )
        )
    return rows, misses
