"""The `etl_bulk` input: a reference-shaped Sparkify JSON corpus drawn
from the benchmark's seed.

Record shapes follow `generate_scaled_corpus` in `pipelines/sparkify.py`
(year==0 songs, null artist coordinates, non-NextSong pages, logged-out
rows with an empty userId, join hits and misses). At scale K: 12·K songs
and 300·K events over 8·K users, the events split across min(K, 32)
newline-delimited files so the staging scan parallelizes the way a
many-object prefix would.
"""

from __future__ import annotations

import json
import os
import random
import shutil

_BASE_TS = 1541290555796
_FIRST = ["Lily", "Jacob", "Sylvie", "Kate", "Aleena", "Jacqueline"]
_LAST = ["Koch", "Klein", "Cruz", "Harrell", "Kirby", "Lynch"]
_PAGES = ["NextSong"] * 6 + ["Home", "Login", "Logout", "Downgrade"]


def _song(i: int, rng: random.Random) -> dict:
    return {
        "num_songs": 1,
        "artist_id": f"AR{i:05d}",
        "artist_latitude": round(rng.uniform(-60, 60), 5) if i % 3 else None,
        "artist_longitude": round(rng.uniform(-120, 120), 5) if i % 3 else None,
        "artist_location": f"City {i}",
        "artist_name": f"Artist {i}",
        "song_id": f"SO{i:05d}",
        "title": f"Song Title {i}",
        "duration": round(rng.uniform(90, 400), 5),
        "year": 0 if i % 4 == 0 else 1990 + i % 30,
    }


def _event(i: int, ts: int, songs: list[dict], n_users: int, rng: random.Random) -> dict:
    page = _PAGES[rng.randrange(len(_PAGES))]
    user = rng.randrange(n_users)
    logged_in = rng.random() > 0.05
    ev = {
        "artist": None,
        "auth": "Logged In" if logged_in else "Logged Out",
        "firstName": _FIRST[user % len(_FIRST)] if logged_in else None,
        "gender": "F" if user % 2 else "M",
        "itemInSession": rng.randrange(10),
        "lastName": _LAST[user % len(_LAST)] if logged_in else None,
        "length": None,
        "level": "paid" if user % 3 == 0 else "free",
        "location": f"Metro {user}",
        "method": "PUT" if page == "NextSong" else "GET",
        "page": page,
        "registration": float(_BASE_TS - rng.randint(10**6, 10**9)),
        "sessionId": 100 + i // 7,
        "song": None,
        "status": 200 if page != "Login" else 307,
        "ts": ts,
        "userAgent": f'"Mozilla/5.0 (agent {user})"',
        "userId": str(10 + user) if logged_in else "",
    }
    if page == "NextSong":
        if rng.random() < 0.5:  # join hit: exact (title, artist, duration)
            s = songs[rng.randrange(len(songs))]
            ev.update(artist=s["artist_name"], song=s["title"], length=s["duration"])
        else:  # join miss
            ev.update(
                artist=f"Unknown Artist {i}",
                song=f"Unknown Song {i}",
                length=round(rng.uniform(90, 400), 5),
            )
    return ev


def write_sparkify_corpus(dst: str, k: int, seed: int) -> tuple[str, str, int]:
    """Write the K-scaled corpus from `seed` under `dst` (through a
    temporary sibling renamed into place, so an interrupted run never
    leaves half an input). Returns (log_dir, song_dir, n_events)."""
    rng = random.Random(seed)
    songs = [_song(i, rng) for i in range(12 * k)]
    n_events, n_users = 300 * k, 8 * k
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "song_data"))
    os.makedirs(os.path.join(tmp, "log_data"))
    with open(os.path.join(tmp, "song_data", "songs.json"), "w") as f:
        f.writelines(json.dumps(s) + "\n" for s in songs)
    n_files = min(k, 32)
    per = (n_events + n_files - 1) // n_files
    ts = _BASE_TS
    for fi in range(n_files):
        with open(os.path.join(tmp, "log_data", f"events-{fi:03d}.json"), "w") as f:
            for i in range(fi * per, min((fi + 1) * per, n_events)):
                ts += rng.randint(1000, 600_000)
                f.write(json.dumps(_event(i, ts, songs, n_users, rng)) + "\n")
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return os.path.join(dst, "log_data"), os.path.join(dst, "song_data"), n_events
