"""Seeded season generator in the Big Data Bowl 2024 Kaggle CSV layout.

Writes tracking_week_<w>.csv, plays.csv, players.csv and tackles.csv
into a directory, with the columns graft.io.Sources binds by header name
plus a few of the other Kaggle columns. Every play tracks 23 entities
(22 players and the football) at 10 Hz. Play lengths vary, the ball
carrier accelerates and cuts, and 1-3 defenders pursue and tackle the
carrier, so speed and acceleration vary frame to frame. A few plays lose
their stop event or credit a tackle to a defender whose position the
kernel has no bounds for, so the dead-letter path runs; a few football
rows carry a malformed token, so the parse-reject sweep finds something.

`generate` returns a manifest of the row counts RunSeason must produce,
derived from the generated plays alone.

Usage: python3 gen_season.py <out_dir> [--seed N] [--plays N]
"""
import argparse
import datetime
import math
import os
import random

FPS = 10.0
DEFENSE = [  # (position, tackle weight); covers every bounded position
    ("MLB", 22), ("ILB", 18), ("OLB", 11), ("SS", 10), ("FS", 8),
    ("CB", 7), ("DB", 5), ("DE", 7), ("DT", 5), ("NT", 4),
    ("OLB", 3),
]
OFFENSE = ["QB", "RB", "WR", "WR", "WR", "TE", "T", "T", "G", "G", "C"]
UNBOUNDED = "TE"  # a position the kernel has no pursuit bounds for
START_EVENTS = ("handoff", "pass_outcome_caught", "run")
STOP_EVENTS = ("tackle", "tackle", "tackle", "out_of_bounds", "fumble")


def _roster():
    """Two clubs: 'HOM' defends every play, 'AWY' has the ball."""
    players = []
    nid = 40000
    for pos, w in DEFENSE:
        nid += 1
        players.append(dict(nflId=nid, club="HOM", position=pos, weight=w))
    for pos in OFFENSE:
        nid += 1
        players.append(dict(nflId=nid, club="AWY", position=pos, weight=0))
    nid += 1  # a tight end who makes the odd tackle after a turnover
    players.append(dict(nflId=nid, club="AWY", position=UNBOUNDED, weight=0))
    for p in players:
        p["displayName"] = "Player %d" % p["nflId"]
    return players


def _clip(v, lo, hi):
    return lo if v < lo else hi if v > hi else v


def _heading(dx, dy):
    """Kaggle `dir`: degrees clockwise from +y."""
    return math.degrees(math.atan2(dx, dy)) % 360.0


def _play(rnd, roster, direction, lead):
    """One play: per-entity (x, y) series plus events and tacklers;
    `lead` (a defender or None) makes the tackle when given."""
    sign = 1.0 if direction == "right" else -1.0
    n_frames = rnd.randint(45, 95)
    snap = rnd.randint(8, 14)
    start = snap + rnd.randint(3, 12)
    los = rnd.uniform(25.0, 85.0)
    # ball carrier: accelerates after the hand-off, with lateral cuts
    cx, cy = los - sign * rnd.uniform(3.0, 7.0), rnd.uniform(15.0, 38.0)
    top = rnd.uniform(6.5, 9.0)
    speed, lateral = 0.0, rnd.uniform(-0.5, 0.5)
    carrier = []
    for f in range(n_frames):
        if f >= start:
            speed = min(top, speed + rnd.uniform(0.25, 0.7))
            if rnd.random() < 0.12:
                lateral = rnd.uniform(-0.7, 0.7)
            cx += sign * speed / FPS
            cy = _clip(cy + lateral * speed / FPS, 1.0, 52.3)
        elif f >= snap:
            cx -= sign * 0.05
        carrier.append((cx, cy))
    # tacklers: pursue the carrier from a few yards downfield
    k = rnd.choices((1, 2, 3), weights=(50, 35, 15))[0]
    defense = [p for p in roster if p["club"] == "HOM"]
    chosen = [lead] if lead else []
    while len(chosen) < k:
        p = rnd.choices(defense, weights=[d["weight"] for d in defense])[0]
        if p not in chosen:
            chosen.append(p)
    unbounded = rnd.random() < 0.04
    if unbounded:
        chosen[-1] = next(p for p in roster if p["position"] == UNBOUNDED)
    paths = {}
    stop = None
    for i, p in enumerate(chosen):
        tx = los + sign * rnd.uniform(3.0, 12.0)
        ty = _clip(carrier[0][1] + rnd.uniform(-12.0, 12.0), 1.0, 52.3)
        vmax = rnd.uniform(6.8, 8.4)
        # the tackle maker closes in; assists sometimes pull up short
        reach = 0.4 if i == 0 else rnd.choice((0.5, 0.9, 2.5))
        sp, path = 0.0, []
        for f in range(n_frames):
            if f >= snap:
                gx, gy = carrier[f]
                dx, dy = gx - tx, gy - ty
                d = math.sqrt(dx * dx + dy * dy)
                sp = min(vmax, sp + rnd.uniform(0.3, 0.9))
                step = min(sp / FPS, max(0.0, d - reach))
                if d > 1e-9:
                    tx += dx / d * step
                    ty += dy / d * step
                if i == 0 and stop is None and f > start and d - step < 0.8:
                    stop = f
            path.append((tx, ty))
        paths[p["nflId"]] = path
    if stop is None:
        stop = n_frames - 6
    n_frames = min(n_frames, stop + rnd.randint(3, 8))
    events = {snap: "ball_snap", start: rnd.choice(START_EVENTS)}
    has_stop = rnd.random() >= 0.04
    if has_stop:
        events[stop] = rnd.choice(STOP_EVENTS)
    return dict(n_frames=n_frames, carrier=carrier[:n_frames],
                tacklers=[(p, paths[p["nflId"]][:n_frames]) for p in chosen],
                events=events, los=los, has_stop=has_stop)


def _fmt(v):
    return "%.2f" % v


def generate(out_dir, seed=1, n_plays=120, weeks=2):
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    roster = _roster()
    by_id = {p["nflId"]: p for p in roster}
    offense = [p for p in roster if p["club"] == "AWY" and p["position"] != UNBOUNDED]
    carrier_id = next(p["nflId"] for p in offense if p["position"] == "RB")
    defense = [p for p in roster if p["club"] == "HOM"]
    manifest = dict(plays=0, tackles=0, yap_rows=0, error_rows=0,
                    parse_rejects=0, tacklers_per_position={})

    with open(os.path.join(out_dir, "players.csv"), "w") as f:
        f.write("nflId,height,weight,birthDate,collegeName,position,displayName\n")
        for p in roster:
            f.write("%d,6-1,%d,NA,State,%s,%s\n" % (
                p["nflId"], rnd.randint(180, 320), p["position"], p["displayName"]))

    plays_f = open(os.path.join(out_dir, "plays.csv"), "w")
    plays_f.write("gameId,playId,ballCarrierId,ballCarrierDisplayName,quarter,down,"
                  "yardsToGo,possessionTeam,defensiveTeam,yardlineSide,yardlineNumber,"
                  "prePenaltyPlayResult,playResult,playNullifiedByPenalty\n")
    tackles_f = open(os.path.join(out_dir, "tackles.csv"), "w")
    tackles_f.write("gameId,playId,nflId,tackle,assist,forcedFumble,pffMissedTackle\n")
    header = ("gameId,playId,nflId,displayName,frameId,time,jerseyNumber,club,"
              "playDirection,x,y,s,a,dis,o,dir,event\n")
    week_files = []
    for w in range(1, weeks + 1):
        tf = open(os.path.join(out_dir, "tracking_week_%d.csv" % w), "w")
        tf.write(header)
        week_files.append(tf)

    plays_per_game = 40
    kickoff = datetime.datetime(2022, 9, 8, 20, 15)
    for i in range(n_plays):
        game = 2022090800 + i // plays_per_game
        play_id = 50 + (i % plays_per_game) * 23
        week = week_files[(i // plays_per_game) % weeks]
        direction = rnd.choice(("left", "right"))
        # the middle linebacker makes two tackles in three, as a team's
        # leading tackler does, so the player report's n >= 50 filter
        # has a player to keep at any seed
        pl = _play(rnd, roster, direction, defense[0] if i % 3 else None)
        n = pl["n_frames"]
        gained = int(round((pl["carrier"][-1][0] - pl["los"]) * (1 if direction == "right" else -1)))
        plays_f.write("%d,%d,%d,%s,%d,%d,%d,AWY,HOM,AWY,%d,%d,%d,N\n" % (
            game, play_id, carrier_id, by_id[carrier_id]["displayName"],
            rnd.randint(1, 4), rnd.randint(1, 4), rnd.randint(1, 10),
            int(_clip(pl["los"] - 10, 1, 50)), gained, gained))
        tackler_ids = [p["nflId"] for p, _ in pl["tacklers"]]
        for j, tid in enumerate(tackler_ids):
            tackles_f.write("%d,%d,%d,%d,%d,0,0\n" % (game, play_id, tid, int(j == 0), int(j > 0)))
        manifest["plays"] += 1
        manifest["tackles"] += len(tackler_ids)
        if not pl["has_stop"]:
            manifest["error_rows"] += 1
        else:
            for p, _ in pl["tacklers"]:
                if p["position"] == UNBOUNDED:
                    manifest["error_rows"] += 1
                else:
                    manifest["yap_rows"] += 1
                    pos = manifest["tacklers_per_position"]
                    pos[p["position"]] = pos.get(p["position"], 0) + 1

        # series for all 23 entities: carrier, tacklers, the other 20, football
        series = {carrier_id: pl["carrier"]}
        for p, path in pl["tacklers"]:
            series[p["nflId"]] = path
        others = [p for p in offense + defense if p["nflId"] not in series]
        for p in others[:22 - len(series)]:
            ox = pl["los"] + rnd.uniform(-8, 8)
            oy = rnd.uniform(2, 51)
            drift = (rnd.uniform(-0.6, 0.6), rnd.uniform(-0.6, 0.6))
            path = []
            for f in range(n):
                if f >= 10:
                    ox += drift[0] * rnd.uniform(0.2, 1.2)
                    oy = _clip(oy + drift[1] * rnd.uniform(0.2, 1.2), 0.5, 52.8)
                path.append((ox, oy))
            series[p["nflId"]] = path
        ball = [(x + 0.3, y) for x, y in pl["carrier"]]
        bad_ball_frame = rnd.randrange(n) if rnd.random() < 0.05 else -1
        if bad_ball_frame >= 0:
            manifest["parse_rejects"] += 1

        rows = []
        for nid, path in list(series.items()) + [(None, ball)]:
            p = by_id.get(nid)
            prev_s = 0.0
            for f in range(n):
                x, y = path[f]
                px, py = path[f - 1] if f else path[0]
                dx, dy = x - px, y - py
                dis = math.sqrt(dx * dx + dy * dy)
                s = dis * FPS * rnd.uniform(0.97, 1.03)
                a = abs(s - prev_s) * FPS * rnd.uniform(0.8, 1.2) + rnd.uniform(0.0, 0.3)
                prev_s = s
                hd = _heading(dx, dy) if dis > 1e-6 else (90.0 if direction == "right" else 270.0)
                ev = pl["events"].get(f, "NA")
                t = (kickoff + datetime.timedelta(seconds=40 * i, milliseconds=100 * f)
                     ).strftime("%Y-%m-%d %H:%M:%S.%f")
                if nid is None:
                    dis_tok = "1..2" if f == bad_ball_frame else _fmt(dis)
                    rows.append("%d,%d,NA,football,%d,%s,NA,football,%s,%s,%s,%s,%s,%s,NA,NA,%s\n" % (
                        game, play_id, f + 1, t, direction, _fmt(x), _fmt(y), _fmt(s), _fmt(a),
                        dis_tok, ev))
                else:
                    rows.append("%d,%d,%d,%s,%d,%s,%d,%s,%s,%s,%s,%s,%s,%s,%s,%s,%s\n" % (
                        game, play_id, nid, p["displayName"], f + 1, t, nid % 100, p["club"],
                        direction, _fmt(x), _fmt(y), _fmt(s), _fmt(a), _fmt(dis),
                        _fmt((hd + rnd.uniform(-20, 20)) % 360), _fmt(hd), ev))
        week.write("".join(rows))

    for fh in [plays_f, tackles_f] + week_files:
        fh.close()
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--plays", type=int, default=120)
    a = ap.parse_args()
    print(generate(a.out_dir, a.seed, a.plays))
