"""Seeded input generator for the ``bookcrossing-stream`` workload.

``bookcrossing`` writes Book-Crossing-shaped ``;``-separated CSVs (books,
users, ratings) with the dirty rows of the reference's inputs, and
Twitter-shaped NDJSON posts split into files of at most 1000 records.
The inputs are a pure function of (seed, sizes): numpy's PCG64 stream is
stable across platforms for the calls used here, so the same seed gives
byte-identical files.

The relational and text tables are not generated: the workloads read the
fixture tables under ``fixtures/`` (see README.md).
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent stream per (seed, input), so one input can be
    generated without the others."""
    return np.random.Generator(np.random.PCG64([seed, zlib.crc32(stream.encode())]))


def _long_tail(rng, n: int, k: int) -> np.ndarray:
    """n draws from range(k), rank 0 most frequent (weight 1/(rank+10))."""
    w = 1.0 / (np.arange(k) + 10.0)
    return rng.choice(k, size=n, p=w / w.sum())


def _isbn(i: int) -> str:
    body = f"{(i * 7919) % 10**9:09d}"
    return body + ("X" if i % 11 == 0 else str(i % 10))


def bookcrossing(
    out_dir: str,
    seed: int,
    n_books: int,
    n_users: int,
    n_ratings: int,
    n_post_files: int,
    posts_per_file: int,
) -> dict[str, int]:
    """Write books.csv, users.csv, ratings.csv and posts/*.json under
    `out_dir`; returns {input: bytes}.

    Who rates what, every dirty row and every age are drawn once, from a
    fixed stream, over user, book, poster and tag *ranks*. The seed then
    relabels: it permutes user ids, ISBNs, poster ids and tag names, and
    the order of rows. Every seed therefore gives an isomorphic data set:
    the same pipeline work, on different files."""
    if posts_per_file > 1000:
        raise ValueError("a posts file holds at most 1000 records")
    os.makedirs(out_dir, exist_ok=True)
    shape = _rng(0, "bookcrossing-shape")
    rng = _rng(seed, "bookcrossing")
    user_id = rng.permutation(n_users)
    n_isbns = n_books + n_books // 20  # the last ranks are absent from books.csv
    isbns = [_isbn(i) for i in rng.permutation(n_isbns)]

    years = shape.integers(1960, 2026, n_books).astype(str).astype(object)
    years[shape.random(n_books) < 0.03] = "19xx"
    authors = _long_tail(shape, n_books, 400)
    bad_isbn = shape.random(n_books) < 0.01  # '|' in the check digit
    with open(os.path.join(out_dir, "books.csv"), "w") as f:
        f.write("ISBN;Book-Title;Book-Author;Year-Of-Publication;Publisher\n")
        for b in rng.permutation(n_books):
            isbn = isbns[b][:9] + "|" if bad_isbn[b] else isbns[b]
            f.write(f"{isbn};Title{b % (n_books // 3)};Author{authors[b]};"
                    f"{years[b]};Pub{b % 50}\n")

    ages = np.round(shape.uniform(5, 110, n_users)).astype(object)
    ages[shape.random(n_users) < 0.15] = None
    ages[shape.random(n_users) < 0.02] = 0.0
    with open(os.path.join(out_dir, "users.csv"), "w") as f:
        f.write("User-ID;Age\n")
        for u in rng.permutation(n_users):
            age = "" if ages[u] is None else f"{float(ages[u])}"
            f.write(f"{user_id[u]};{age}\n")
            if u % 53 == 0:  # exact duplicate row: dedup must keep one
                f.write(f"{user_id[u]};{age}\n")

    # long-tailed activity and popularity, so the >=10-ratings and top-5%
    # filters are both non-trivial. Ratings are 1-10: a user whose kept
    # ratings are all 0 has a zero norm, and the engine's cosine
    # similarity then divides by zero (see README.md).
    raters = _long_tail(shape, n_ratings, n_users)
    rated = _long_tail(shape, n_ratings, n_isbns)
    stars = shape.integers(1, 11, n_ratings)
    with open(os.path.join(out_dir, "ratings.csv"), "w") as f:
        f.write("User-ID;ISBN;Book-Rating\n")
        for i in rng.permutation(n_ratings):
            f.write(f"{user_id[raters[i]]};{isbns[rated[i]]};{stars[i]}\n")

    posts_dir = os.path.join(out_dir, "posts")
    os.makedirs(posts_dir, exist_ok=True)
    n_posts = n_post_files * posts_per_file
    n_posters, n_tag_names = n_posts // 3, 500
    poster_id = rng.permutation(n_posters)
    tag_name = rng.permutation(n_tag_names)
    posters = _long_tail(shape, n_posts, n_posters)
    n_tags = shape.integers(0, 5, n_posts)
    tags = np.split(_long_tail(shape, int(n_tags.sum()), n_tag_names), np.cumsum(n_tags)[:-1])
    for fi in range(n_post_files):
        lo = fi * posts_per_file
        with open(os.path.join(posts_dir, f"posts_{fi:04d}.json"), "w") as f:
            for j in lo + rng.permutation(posts_per_file):
                f.write(json.dumps({
                    "user": {"id": int(poster_id[posters[j]])},
                    "entities": {"hashtags": [{"text": f"t{tag_name[t]}"} for t in tags[j]]},
                }) + "\n")

    return {
        name: os.path.getsize(os.path.join(out_dir, name))
        for name in ("books.csv", "users.csv", "ratings.csv")
    } | {"posts": sum(
        os.path.getsize(os.path.join(posts_dir, p)) for p in os.listdir(posts_dir)
    )}
