"""Seeded input generator for the embargo benchmark.

Builds sidestream-style day stores from the real web100/.tra payloads of the
repository's fixture archive, so compressibility is that of real data, while
day, host, IP and entry names are synthesized from the seed. The route of every
regular entry is known by construction and written to ``truth.tsv``:

  public  iff the entry is not a web100 file, or its local IP is whitelisted
  private otherwise (every generated day is younger than the one-year cutoff)

Whitelist membership goes through the site feed that the service's refresh
cron reads (``sites.json``), which includes a non-canonical IPv6 spelling and
a samknows host whose addresses must stay embargoed. Entry names cover IPv4,
canonical IPv6, the sidestream ``:::`` quirk, malformed and old-format names,
non-web100 files, and one directory entry per archive.

Layout under ``root``::

  src/sidestream/yyyy/mm/dd/*.tgz       archives to embargo
  private/sidestream/yyyy/mm/dd/*-e.tgz year-old embargoed days to promote
  public/sidestream/yyyy/mm/dd/*        that day's public halves, plus one
                                        stale private copy to overwrite
  whitelist_seed.txt                    the service's seed whitelist
  whitelist_effective.txt               the refreshed list, as text
  sites.json                            the site feed for the refresh
  truth.tsv                             archive, entry, size, md5, route
  warm.json                             the warm-up inputs
  plan.json, pool.ready                 the timed pool, written last

Every archive holds every fixture payload once, in a seeded order, so the
work per operation does not depend on the seed; names and routes do.
"""

import datetime
import hashlib
import io
import ipaddress
import json
import multiprocessing
import os
import random
import tarfile

FIXTURE = "testdata/20170315T000000Z-mlab3-sea03-sidestream-0000.tgz"
TODAY = datetime.date(2024, 6, 15)  # ServiceConfig.today; cutoff 2023-06-15
GZ_LEVEL = 6

# Per-workload sizes. `days`/`archives` are the timed pool; the harness
# wraps around the pool if a run outlasts it.
SIZES = {
    "embargo_day": {"days": 6, "archives_per_day": 20, "old_archives": 6,
                    "warm_archives": 8},
    "submit_file": {"days": 4, "archives_per_day": 16, "old_archives": 6,
                    "warm_archives": 4},
}

_PAYLOADS = None  # (web100, other): lists of (bytes, md5)


def _load_payloads(repo):
    web, other = [], []
    with tarfile.open(os.path.join(repo, FIXTURE)) as t:
        for m in t.getmembers():
            if not m.isfile():
                continue
            b = t.extractfile(m).read()
            item = (b, hashlib.md5(b).hexdigest())
            (web if m.name.endswith(".web100") else other).append(item)
    return web, other


def _sites(rng):
    """Site feed plus the IP pools the entry names draw from."""
    sites, v4, v6, v6_noncanon = [], [], [], []
    used = set()

    def fresh(make):
        while True:
            ip = make()
            if ip not in used:
                used.add(ip)
                return ip

    def rand_v4():
        return "%d.%d.%d.%d" % (rng.randrange(11, 223), rng.randrange(256),
                                rng.randrange(256), rng.randrange(1, 255))

    def rand_v6():
        groups = [0x2001, 0xdb8, rng.randrange(1, 0xffff), rng.randrange(0, 4)]
        groups += [0, 0, 0, rng.randrange(1, 0xfff)]
        return str(ipaddress.IPv6Address(":".join("%x" % g for g in groups)))

    for i in range(32):
        host = "mlab%d.%s%02d.measurement-lab.org" % (
            rng.randrange(1, 5), "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                                         for _ in range(3)), rng.randrange(1, 40))
        a, b = fresh(rand_v4), fresh(rand_v6)
        spelled = b
        if i % 8 == 0:  # non-canonical spelling: uppercase, zero groups expanded
            spelled = ipaddress.IPv6Address(b).exploded.upper()
            v6_noncanon.append(b)
        else:
            v6.append(b)
        v4.append(a)
        sites.append({"hostname": host, "ipv4": a, "ipv6": spelled})
    samknows = [fresh(rand_v4), fresh(rand_v6)]
    sites.append({"hostname": "samknows01.sea01.measurement-lab.org",
                  "ipv4": samknows[0], "ipv6": samknows[1]})
    private_v4 = [fresh(rand_v4) for _ in range(24)]
    private_v6 = [fresh(rand_v6) for _ in range(12)]
    seed_only = [fresh(rand_v4) for _ in range(3)]
    return {"sites": sites, "v4": v4, "v6": v6, "v6_noncanon": v6_noncanon,
            "samknows": samknows, "private_v4": private_v4,
            "private_v6": private_v6, "seed_only": seed_only}


def _quirk(ip6):
    """Sidestream's malformed `:::` spelling of an address with a `::` run."""
    return ip6.replace("::", ":::") if "::" in ip6 and not ip6.endswith("::") else ip6


# (category, weight, route) for web100 entries
_WEB100 = [("wl_v4", 30, "public"), ("wl_v6", 8, "public"),
           ("wl_v6_quirk", 8, "public"), ("wl_v6_noncanon", 8, "public"),
           ("priv_v4", 22, "private"), ("priv_v6", 8, "private"),
           ("priv_v6_quirk", 4, "private"), ("samknows", 4, "private"),
           ("seed_only", 3, "private"), ("malformed", 2, "private"),
           ("old_format", 3, "private")]


def _entry_ip(cat, rng, ips):
    return {
        "wl_v4": lambda: rng.choice(ips["v4"]),
        "wl_v6": lambda: rng.choice(ips["v6"]),
        "wl_v6_quirk": lambda: _quirk(rng.choice(ips["v6"])),
        "wl_v6_noncanon": lambda: rng.choice(ips["v6_noncanon"]),
        "priv_v4": lambda: rng.choice(ips["private_v4"]),
        "priv_v6": lambda: rng.choice(ips["private_v6"]),
        "priv_v6_quirk": lambda: _quirk(rng.choice(ips["private_v6"])),
        "samknows": lambda: rng.choice(ips["samknows"]),
        "seed_only": lambda: rng.choice(ips["seed_only"]),
        "malformed": lambda: "not:an:ip",
    }[cat]()


def _archive_spec(rng, ips, day, host, n_web, n_other):
    """Entry list (name, payload index, kind, route) of one archive."""
    ymd = day.strftime("%Y%m%d")
    d = "%s/%s/" % (day.strftime("%Y/%m/%d"), host.replace("-", "."))
    items = [("web", i) for i in range(n_web)] + [("other", i) for i in range(n_other)]
    rng.shuffle(items)
    cats = [c for c, _, _ in _WEB100]
    weights = [w for _, w, _ in _WEB100]
    routes = {c: r for c, _, r in _WEB100}
    entries = []
    for k, (kind, i) in enumerate(items):
        ts = "%sT%02d:%02d:%02dZ" % (ymd, k // 60, k % 60, (k * 7) % 60)
        if kind == "other":
            name, route = "%s%s_ALL%d.tra" % (d, ts, k), "public"
        else:
            cat = rng.choices(cats, weights)[0]
            if cat == "old_format":
                name = "%s%s.web100" % (d, ts)
            else:
                name = "%s%s_%s_%d.web100" % (d, ts, _entry_ip(cat, rng, ips), k)
            route = routes[cat]
        entries.append((name, kind, i, route))
    # one snaplog from a private IP: public because it is not web100
    entries.append(("%s%sT23:59:59Z_%s_0.snaplog" % (d, ymd, ips["private_v4"][0]),
                    "other", 0, "public"))
    return d, entries


def _write_archive(job):
    path, dirname, entries, keep = job
    web, other = _PAYLOADS
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rows = []
    mtime = 1700000000
    with open(path, "wb") as f, tarfile.open(fileobj=f, mode="w:gz",
                                             compresslevel=GZ_LEVEL,
                                             format=tarfile.GNU_FORMAT) as t:
        ti = tarfile.TarInfo(dirname)
        ti.type, ti.mode, ti.mtime = tarfile.DIRTYPE, 0o755, mtime
        t.addfile(ti)
        for name, kind, i, route in entries:
            if keep is not None and route != keep:
                continue
            b, md5 = (web if kind == "web" else other)[i]
            ti = tarfile.TarInfo(name)
            ti.size, ti.mode, ti.mtime = len(b), 0o644, mtime
            t.addfile(ti, io.BytesIO(b))
            rows.append((name, len(b), md5, route))
    return path, rows


class Generator:
    """Writes the inputs in two parts: `warm()` (site feed, whitelists and
    the warm-up days) before the harness starts, and `pool()` (the timed
    days) while the harness sets up; `pool.ready` marks the second part done.
    """

    def __init__(self, repo, workload, seed, root):
        global _PAYLOADS
        _PAYLOADS = _load_payloads(repo)
        self.n_web, self.n_other = len(_PAYLOADS[0]), len(_PAYLOADS[1])
        self.workload, self.seed, self.root = workload, seed, root
        self.size = SIZES[workload]
        self.rng = random.Random("%s:%d" % (workload, seed))
        self.ips = _sites(self.rng)
        self.first = datetime.date(2024, 3, 1) + datetime.timedelta(days=self.rng.randrange(0, 40))
        self.first_old = datetime.date(2023, 3, 1) + datetime.timedelta(days=self.rng.randrange(0, 40))
        self.jobs, self.sources = [], set()
        self.raw = {}
        os.makedirs(root, exist_ok=True)
        sites = self.ips["sites"]
        wl = [ip for s in sites if "samknows" not in s["hostname"] for ip in (s["ipv4"], s["ipv6"])]
        self._write("sites.json", json.dumps(sites))
        self._write("whitelist_effective.txt", "\n".join(wl) + "\n")
        self._write("whitelist_seed.txt", "\n".join(self.ips["seed_only"] + self.ips["v4"][:4]) + "\n")

    def _write(self, name, text):
        tmp = os.path.join(self.root, name + ".tmp")
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, os.path.join(self.root, name))

    def _host(self):
        return "mlab%d-%s%02d" % (self.rng.randrange(1, 5), "".join(
            self.rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(3)),
            self.rng.randrange(1, 40))

    def _day_path(self, store, day):
        return os.path.join(self.root, store, "sidestream", day.strftime("%Y/%m/%d"))

    def _add_day(self, day, n):
        names = []
        for s in range(n):
            h = self._host()
            base = "%sT000000Z-%s-sidestream-%04d.tgz" % (day.strftime("%Y%m%d"), h, s)
            d, entries = _archive_spec(self.rng, self.ips, day, h, self.n_web, self.n_other)
            path = os.path.join(self._day_path("src", day), base)
            self.jobs.append((path, d, entries, None))
            self.sources.add(path)
            names.append(base)
        return names

    def _add_old_day(self, day, n):
        """A year-old day: private halves in the embargoed store; public
        halves, plus one stale private copy to overwrite, in the public one."""
        for s in range(n):
            h = self._host()
            base = "%sT000000Z-%s-sidestream-%04d.tgz" % (day.strftime("%Y%m%d"), h, s)
            d, entries = _archive_spec(self.rng, self.ips, day, h, self.n_web, self.n_other)
            priv = base.replace(".tgz", "-e.tgz")
            self.jobs.append((os.path.join(self._day_path("private", day), priv), d, entries, "private"))
            self.jobs.append((os.path.join(self._day_path("public", day), base), d, entries, "public"))
            if s == 0:
                self.jobs.append((os.path.join(self._day_path("public", day), priv), d,
                                  entries[: len(entries) // 4], None))

    def _flush(self, procs):
        """Write the queued archives; append their truth rows."""
        with multiprocessing.get_context("fork").Pool(procs) as pool:
            results = pool.map(_write_archive, self.jobs, chunksize=2)
        self.jobs = []
        with open(os.path.join(self.root, "truth.tsv"), "a") as f:
            for path, rows in results:
                if path not in self.sources:
                    continue
                rel = os.path.relpath(path, os.path.join(self.root, "src"))
                self.raw[rel] = sum(r[1] for r in rows)
                for name, n, md5, route in rows:
                    f.write("%s\t%s\t%d\t%s\t%s\n" % (rel, name, n, md5, route))

    def warm(self, procs):
        """Warm-up inputs: their own day and their own year-old day."""
        warm = self.first - datetime.timedelta(days=1)
        warm_old = self.first_old - datetime.timedelta(days=1)
        self.plan = {"workload": self.workload, "seed": self.seed,
                     "today": TODAY.isoformat(), "sizes": self.size,
                     "warm": {"date": _ymd(warm), "old_date": _ymd(warm_old),
                              "archives": self._add_day(warm, self.size["warm_archives"])}}
        self._add_old_day(warm_old, self.size["old_archives"])
        self._flush(procs)
        self._write("warm.json", json.dumps(self.plan, indent=1))

    def pool(self, procs):
        """The timed pool; `plan.json` lists it, then `pool.ready` appears."""
        self.plan.update(days=[], archives=[])
        for k in range(self.size["days"]):
            day = self.first + datetime.timedelta(days=k)
            names = self._add_day(day, self.size["archives_per_day"])
            entry = {"date": _ymd(day), "archives": names}
            if self.workload == "embargo_day":
                old = self.first_old + datetime.timedelta(days=k)
                self._add_old_day(old, self.size["old_archives"])
                entry["old_date"] = _ymd(old)
            self.plan["days"].append(entry)
            self.plan["archives"] += ["sidestream/%s/%s" % (day.strftime("%Y/%m/%d"), n)
                                      for n in names]
        if self.workload == "submit_file":
            # submission order mixes the days, deterministically
            self.rng.shuffle(self.plan["archives"])
        self._flush(procs)
        self.plan["raw_bytes"] = self.raw
        self._write("plan.json", json.dumps(self.plan, indent=1))
        self._write("pool.ready", "")
        return self.plan


def _ymd(day):
    return day.strftime("%Y%m%d")
