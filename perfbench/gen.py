"""Seeded raw-auction generator for the pipeline workloads.

The program under test only ever sees the files this module writes: raw
scraper output in both envelope vintages (map `{url: record}` on even days,
list `[record]` on odd days), one file per auction day.

Date locality: every new auction in day d's file ends on day d, so the
processed layer's date partition for d is written by that file alone.  A fixed
share of each file (RESCRAPE_SHARE) re-scrapes auctions that ended on earlier
days: same URL, same day, a later end time (the auction was extended) and
corrected counts/mileage.  Keep-newest therefore picks the re-scrape
deterministically, and the merge has to read back and rewrite those old
partitions.

Every FIXTURES.md section-1 edge case appears at a fixed rate: invalid and
null auction_status (the rescrape path), epoch-millis dates (as JSON numbers
and as strings), unparseable and short bid lists, the `services` alias of
`service_history`, missing view/watcher counts, locations without a comma,
title statuses without a state, and "\\nSave"/"\\nFollow" UI suffixes.

`generate(out_dir, seed, base_days, stream_days, per_day)` writes the first
`base_days` files to `base/` (the batch load's input) and the next
`stream_days` to `stream/` (the files landed one by one), plus
`manifest.json`, the ground truth the output checks compare against.  The
output is byte-for-byte deterministic in its arguments.
"""

import datetime as dt
import json
import os
import random

VERSION = 1
RESCRAPE_SHARE = 0.10     # share of a file's records that re-scrape older auctions
INVALID_SHARE = 0.04      # new auctions whose status sends them to the rescrape list
START = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
RESCRAPE_WINDOW_DAYS = 30

MAKES = {
    "Ford": ["F-150", "Mustang", "Bronco", "Ranger", "Focus RS"],
    "BMW": ["M3", "318i", "Z4", "X5", "M5"],
    "Porsche": ["911", "Boxster", "Cayman", "Cayenne", "Macan"],
    "Toyota": ["Land Cruiser", "Supra", "4Runner", "Tacoma", "MR2"],
    "Honda": ["S2000", "Civic Type R", "NSX", "Prelude", "Element"],
    "Audi": ["RS3", "S4", "TT", "R8", "Allroad"],
    "Mercedes-Benz": ["G550", "SL500", "E63 AMG", "190E", "Sprinter"],
    "Chevrolet": ["Corvette", "Camaro", "Silverado", "Tahoe", "C10"],
    "Subaru": ["WRX STI", "Outback", "BRZ", "Forester", "Baja"],
    "Mazda": ["MX-5 Miata", "RX-7", "RX-8", "Mazdaspeed3", "CX-5"],
    "Nissan": ["GT-R", "350Z", "Skyline", "Frontier", "Pathfinder"],
    "Jeep": ["Wrangler", "Grand Cherokee", "Gladiator", "Cherokee", "CJ-7"],
    "Lexus": ["LX 570", "IS F", "GX 460", "SC 400", "RC F"],
    "Volkswagen": ["Golf R", "GTI", "Vanagon", "Beetle", "Touareg"],
    "Land Rover": ["Defender", "Range Rover", "Discovery", "LR4", "Evoque"],
    "Tesla": ["Model 3", "Model S", "Model X", "Model Y", "Roadster"],
}
CITIES = [
    ("Dallas", "TX"), ("Austin", "TX"), ("Houston", "TX"), ("Los Angeles", "CA"),
    ("San Diego", "CA"), ("San Jose", "CA"), ("Phoenix", "AZ"), ("Denver", "CO"),
    ("Seattle", "WA"), ("Portland", "OR"), ("Miami", "FL"), ("Tampa", "FL"),
    ("Atlanta", "GA"), ("Chicago", "IL"), ("Detroit", "MI"), ("Boston", "MA"),
    ("New York", "NY"), ("Brooklyn", "NY"), ("Philadelphia", "PA"),
    ("Charlotte", "NC"), ("Nashville", "TN"), ("Salt Lake City", "UT"),
    ("Las Vegas", "NV"), ("Minneapolis", "MN"), ("St. Louis", "MO"),
    ("Columbus", "OH"), ("Richmond", "VA"), ("Baltimore", "MD"),
]
TITLES = ["Clean", "Rebuilt", "Salvage", "Clean (Lien)"]
ENGINES = ["2.0L Turbo I4", "3.0L Turbo I6", "5.0L V8", "6.2L V8", "Electric",
           "1.9L I4", "4.0L Flat-6", "3.5L V6", "2.5L Turbo Flat-4"]
DRIVETRAINS = ["Rear-wheel drive", "Front-wheel drive", "All-wheel drive",
               "4WD/AWD", "Four-wheel drive", "4WD", ""]
TRANSMISSIONS = ["6-Speed Manual", "5-Speed Manual", "Automatic",
                 "8-Speed Automatic", "7-Speed Automatic (DCT)", "CVT", ""]
BODIES = ["Coupe", "Sedan", "Convertible", "Truck", "SUV/Crossover",
          "Wagon", "Hatchback", "Van/Minivan"]
COLORS = ["Black", "White", "Silver", "Red", "Blue", "Green", "Gray",
          "Yellow", "Orange", "Beige", "Brown"]
SELLER_TYPES = ["Private Party", "Dealer"]
VALID_STATUS = ["Sold to {u}", "Reserve not met, bid to ${b}",
                "Reserve Not Met", "Canceled", "Cancelled", "Sold"]
INVALID_STATUS = ["pending", "Live", "", "Bid to ${b}", None]
WORDS = ("clean carfax single owner garage kept service records new tires "
         "original paint manual gearbox turbo upgraded exhaust documented "
         "recent brakes timing belt done low miles rare color ceramic coat "
         "window sticker books two keys tonneau cover lift kit wheels").split()
ID_CHARS = "ABCDEFGHJKLMNPQRSTUVWXYZ23456789"
VIN_CHARS = "ABCDEFGHJKLMNPRSTUVWXYZ0123456789"


def _words(rng, lo, hi):
    return " ".join(rng.choices(WORDS, k=rng.randint(lo, hi)))


def _money(v):
    return f"{v:,}"


def _date_field(rng, ts):
    """auction_date in one of the scraped formats; all denote `ts` (UTC)."""
    r = rng.random()
    if r < 0.06:
        return int(ts.timestamp() * 1000)           # epoch millis, JSON number
    if r < 0.10:
        return str(int(ts.timestamp() * 1000))      # epoch millis, string
    if r < 0.55:
        return ts.strftime("%Y-%m-%d %H:%M:%S")
    return ts.strftime("%Y-%m-%dT%H:%M:%S")


def _bids(rng, final):
    r = rng.random()
    if r < 0.04:
        return []
    if r < 0.08:
        return ["$" + _money(final)]                 # len < 2: null bid stats
    n = rng.randint(2, 14)
    vals = sorted(rng.sample(range(max(1, final // 4), final + 1), min(n, final // 4 + 1)))
    vals[-1] = final
    out = ["$" + _money(v) for v in vals]
    if rng.random() < 0.05:
        out[rng.randrange(len(out))] = "junk"        # unparseable: whole list -> []
    return out


class _Auction:
    """The stable facts of one auction; records are renderings of it."""

    def __init__(self, rng, serial, day):
        self.id = "".join(ID_CHARS[(serial * 7919 + i * 104729 + rng.randrange(32)) % 32]
                          for i in range(4)) + f"{serial:05d}"
        self.make = rng.choice(sorted(MAKES))
        self.model = rng.choice(MAKES[self.make])
        self.year = rng.randint(1965, 2024)
        slug = f"{self.year}-{self.make}-{self.model}".lower().replace(" ", "-")
        self.url = f"https://carsandbids.com/auctions/{self.id}/{slug}"
        self.vin = "".join(rng.choice(VIN_CHARS) for _ in range(17))
        # end time leaves room for same-day extensions by later re-scrapes
        self.end = START + dt.timedelta(days=day, seconds=rng.randint(6 * 3600, 20 * 3600))
        self.day = day
        self.city, self.state = rng.choice(CITIES)
        self.mileage = rng.randint(800, 240000)
        self.final = rng.randint(20, 4000) * 100
        self.valid = rng.random() >= INVALID_SHARE
        self.status = rng.choice(VALID_STATUS if self.valid else INVALID_STATUS)
        self.views = rng.randint(300, 60000)
        self.watchers = rng.randint(5, 2500)


def _record(rng, a, end, views, watchers, mileage):
    b = _money(a.final)
    status = None if a.status is None else a.status.format(u=f"user{rng.randint(1, 9999)}", b=b)
    stats = {
        "reserve_status": rng.choice(["Reserve", "No Reserve"]),
        "auction_status": status,
        "highest_bid_value": b,
        "buyer_username": f"user{rng.randint(1, 9999)}",
        "seller_username": f"seller{rng.randint(1, 999)}",
        "bid_count": rng.randint(0, 60),
        "auction_date": _date_field(rng, end),
        "bids": _bids(rng, a.final),
    }
    if rng.random() >= 0.05:
        stats["view_count"] = views
    if rng.random() >= 0.05:
        stats["watcher_count"] = watchers
    r = rng.random()
    location = (f"{a.city}, {a.state} {rng.randint(10000, 99999)}" if r < 0.9
                else f"{a.city} , {a.state}" if r < 0.95 else a.city)
    title = rng.choice(TITLES)
    title_status = f"{title} ({a.state})" if rng.random() < 0.9 else title
    mileage_s = (f"{_money(mileage)} miles" if rng.random() < 0.9
                 else f"{_money(mileage)} miles (TMU)" if rng.random() < 0.5 else "TMU")
    facts = {
        "Make": a.make,
        "Model": a.model + ("\nSave" if rng.random() < 0.3 else ""),
        "Mileage": mileage_s,
        "VIN": a.vin,
        "Title Status": title_status,
        "Location": location,
        "Seller": f"seller{rng.randint(1, 999)}" + ("\nFollow" if rng.random() < 0.3 else ""),
        "Engine": rng.choice(ENGINES),
        "Drivetrain": rng.choice(DRIVETRAINS),
        "Transmission": rng.choice(TRANSMISSIONS),
        "Body Style": rng.choice(BODIES),
        "Exterior Color": rng.choice(COLORS),
        "Interior Color": rng.choice(COLORS),
        "Seller Type": rng.choice(SELLER_TYPES),
    }
    rec = {
        "auction_url": a.url,
        "auction_title": f"{a.year} {a.make} {a.model}",
        "auction_subtitle": _words(rng, 3, 8),
        "dougs_take": _words(rng, 25, 60),
        "ownership_history": _words(rng, 4, 12),
        "auction_stats": stats,
        "auction_quick_facts": facts,
        "auction_highlights": {"description": _words(rng, 10, 30),
                               "bullet_points": [_words(rng, 3, 9) for _ in range(rng.randint(0, 8))]},
        "known_flaws": [_words(rng, 2, 6) for _ in range(rng.randint(0, 5))],
        "included_items": [_words(rng, 1, 3) for _ in range(rng.randint(0, 4))],
        "seller_notes": [_words(rng, 4, 12) for _ in range(rng.randint(0, 3))],
    }
    service = {"description": _words(rng, 5, 15),
               "items": [_words(rng, 3, 8) for _ in range(rng.randint(0, 6))]}
    rec["services" if rng.random() < 0.2 else "service_history"] = service
    if rng.random() < 0.8:
        rec["auction_videos"] = [f"yt{rng.randrange(10**8):08d}" for _ in range(rng.randint(0, 3))]
    if rng.random() < 0.5:   # newer scraper vintage
        rec["auction_equipment"] = [_words(rng, 1, 4) for _ in range(rng.randint(0, 6))]
        rec["modifications"] = [_words(rng, 1, 4) for _ in range(rng.randint(0, 4))]
    return rec


def _day_end(a):
    return START + dt.timedelta(days=a.day + 1)


def generate(out_dir, seed, base_days, stream_days, per_day):
    """Write the raw files of `per_day` records each; return the manifest.

    A file rename is the last step of each file, and `manifest.json` is
    written last of all, so a directory with a manifest is complete."""
    rng = random.Random(f"perfbench-gen-v{VERSION}-{seed}")
    days = base_days + stream_days
    for part in ("base", "stream"):
        os.makedirs(os.path.join(out_dir, part), exist_ok=True)
    history = []          # valid auctions, in creation order
    files = []
    serial = 0
    for day in range(days):
        n_rescrape = int(per_day * RESCRAPE_SHARE) if history else 0
        recs = []
        new_valid, invalid_urls, touched = [], [], {day}
        for _ in range(per_day - n_rescrape):
            a = _Auction(rng, serial, day)
            serial += 1
            recs.append(_record(rng, a, a.end, a.views, a.watchers, a.mileage))
            if a.valid:
                new_valid.append(a)
            else:
                invalid_urls.append(a.url)
        # only auctions that can still be extended within their own day, so
        # a re-scrape is strictly newer and stays in its date partition
        window = [a for a in history[-per_day * RESCRAPE_WINDOW_DAYS:]
                  if _day_end(a) - a.end >= dt.timedelta(seconds=120)]
        for a in rng.sample(window, min(n_rescrape, len(window))):
            # extended auction: later end time, same day; corrected counts
            room = int((_day_end(a) - a.end).total_seconds()) - 1
            a.end = a.end + dt.timedelta(seconds=rng.randint(60, min(3 * 3600, room)))
            a.views += rng.randint(1, 5000)
            a.watchers += rng.randint(1, 200)
            if rng.random() < 0.3:
                a.mileage += rng.randint(1, 2000)
            recs.append(_record(rng, a, a.end, a.views, a.watchers, a.mileage))
            touched.add(a.day)
        history.extend(new_valid)
        rng.shuffle(recs)
        if day % 2 == 0:
            body = "{\n" + ",\n".join(json.dumps(r["auction_url"]) + ": " + json.dumps(r)
                                      for r in recs) + "\n}\n"
        else:
            body = "[\n" + ",\n".join(json.dumps(r) for r in recs) + "\n]\n"
        name = f"day-{day:03d}.json"
        part = "base" if day < base_days else "stream"
        tmp = os.path.join(out_dir, part, "." + name + ".tmp")
        with open(tmp, "w") as f:
            f.write(body)
        os.replace(tmp, os.path.join(out_dir, part, name))
        files.append({"name": name, "part": part, "records": len(recs), "bytes": len(body.encode()),
                      "new_valid_ids": [a.id for a in new_valid],
                      "invalid_urls": invalid_urls,
                      "dates_touched": sorted((START + dt.timedelta(days=d)).strftime("%Y-%m-%d")
                                              for d in touched)})
    manifest = {"version": VERSION, "seed": seed, "base_days": base_days,
                "stream_days": stream_days, "per_day": per_day, "files": files}
    tmp = os.path.join(out_dir, ".manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))
    return manifest


def cached(root, seed, base_days, stream_days, per_day, keep=4):
    """The data set for these arguments under `root`, generated on first use.
    Only the `keep` most recently used data sets are kept on disk."""
    d = os.path.join(root, f"v{VERSION}-s{seed}-b{base_days}-s{stream_days}-n{per_day}")
    mf = os.path.join(d, "manifest.json")
    if os.path.exists(mf):
        os.utime(mf)
        with open(mf) as f:
            return d, json.load(f)
    _rmtree(d)
    m = generate(d, seed, base_days, stream_days, per_day)
    sets = sorted((os.path.getmtime(os.path.join(root, s, "manifest.json")), s)
                  for s in os.listdir(root)
                  if os.path.exists(os.path.join(root, s, "manifest.json")))
    for _, s in sets[:-keep]:
        _rmtree(os.path.join(root, s))
    return d, m


def _rmtree(path):
    import shutil
    shutil.rmtree(path, ignore_errors=True)
