"""Seeded Common Crawl WAT segments for the benchmark's workloads.

Writes `segments/<id>/wat/*.warc.wat.gz` plus a relative `wat.paths`
manifest, and returns the counts the import must reproduce:

- raw_links: link rows that survive extraction (the store's sum(qty));
- distinct_keys: distinct compaction keys
  (link_domain, link_subdomain, link_path, link_rawquery, page_host);
- pages: page records that survive the page gates;
- the key lists the serve request mix draws from, ordered by popularity.

Link domains follow a Zipf law of exponent `zipf_s` over `domains`
names, and the domains of the crawled pages one of exponent
`page_zipf_s` (0 gives a uniform draw). A share `repeat_share` of a
page's links reuses a link its host already emitted
(on an earlier page or segment), so compaction merges rows. Every
record kind that the extractor must drop (internal links, asset links,
non-anchor links, noindex pages, junk lines) is emitted at a fixed rate
and excluded from the expected counts. Every page carries exactly
`links_per_page` links and the noindex pages sit at fixed positions, so
the raw link count depends on the sizes only, not on the seed.
"""
import bisect
import gzip
import json
import os
import random

VERSION = 1

TLDS = ["com", "org", "net", "io", "de"]
SUBDOMAINS = ["", "www", "blog", "shop"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "de", "ga"]


def _zipf_cum(n, s):
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / (k ** s)
        out.append(acc)
    return out


def _pick(rng, cum):
    return bisect.bisect_left(cum, rng.random() * cum[-1])


def _domain_names(n):
    names = []
    for i in range(n):
        a = SYLLABLES[i % len(SYLLABLES)]
        b = SYLLABLES[(i // len(SYLLABLES)) % len(SYLLABLES)]
        names.append(f"{a}{b}{i}.{TLDS[i % len(TLDS)]}")
    return names


def _record(uri, ip, date, title, metas, links):
    env = {"Envelope": {
        "WARC-Header-Metadata": {
            "WARC-Target-URI": uri, "WARC-IP-Address": ip, "WARC-Date": date},
        "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
            "Head": {"Title": title, "Metas": metas, "Link": []},
            "Links": links}}}}}
    return json.dumps(env, separators=(",", ":"))


def generate(out_dir, seed, segments=3, pages_per_segment=2000,
             links_per_page=15, domains=1500, zipf_s=1.1, page_zipf_s=0.8,
             repeat_share=0.25,
             nofollow_share=0.1, page_nofollow_share=0.03, noindex_share=0.02,
             junk_per_segment=40, crawl="1720000000"):
    """Write the segments under `out_dir`; return the expected counts."""
    rng = random.Random(f"wat-v{VERSION}-{seed}")
    names = _domain_names(domains)
    # popularity order is a seeded permutation, so different seeds
    # skew onto different buckets
    order = list(range(domains))
    rng.shuffle(order)
    cum = _zipf_cum(domains, zipf_s)
    page_cum = _zipf_cum(domains, page_zipf_s)

    history = {}      # page host -> list of link dicts it already emitted
    keys = set()
    link_hosts, src_hosts = {}, {}
    page_hosts = {}
    raw_links = pages = nofollow = 0
    path_seq = 0
    manifest = []
    os.makedirs(out_dir, exist_ok=True)
    for seg in range(segments):
        seg_id = f"{crawl}.{seg}"
        rel = f"segments/{seg_id}/wat/CC-MAIN-{crawl}-{seg:05d}.warc.wat.gz"
        lines = []
        for p in range(pages_per_segment):
            pd = order[_pick(rng, page_cum)]
            page_domain = names[pd]
            page_host = f"www.{page_domain}"
            path_seq += 1
            uri = f"https://{page_host}/page{path_seq}.html"
            date = f"2024-07-{(p % 28) + 1:02d}T{seg:02d}:00:00Z"
            ip = f"10.{seg}.{p // 250}.{p % 250}"
            # fixed shares at fixed positions keep the raw link count the
            # same for every seed, so links/s compares across seeds
            noindex = p % round(1 / noindex_share) == 1
            page_nf = p % round(1 / page_nofollow_share) == 2
            metas = [{"name": "viewport", "content": "width=device-width"}]
            if noindex:
                metas.append({"name": "robots", "content": "noindex"})
            elif page_nf:
                metas.append({"name": "robots", "content": "nofollow"})
            links = []
            kept = []
            past = history.setdefault(page_host, [])
            for _ in range(links_per_page):
                if past and rng.random() < repeat_share:
                    link = dict(rng.choice(past))
                    link["rel"] = "nofollow" if rng.random() < nofollow_share else ""
                else:
                    d = order[_pick(rng, cum)]
                    if d == pd:
                        d = order[(order.index(d) + 1) % domains]
                    sub = SUBDOMAINS[rng.randrange(len(SUBDOMAINS))]
                    path_seq += 1
                    query = f"id={path_seq % 97}" if rng.random() < 0.2 else ""
                    host = f"{sub}.{names[d]}" if sub else names[d]
                    scheme = rng.choice(["http://", "https://", "//"])
                    link = {
                        "path": "A@/href",
                        "url": f"{scheme}{host}/a{path_seq}" + (f"?{query}" if query else ""),
                        "text": f"anchor {path_seq % 13}",
                        "rel": "nofollow" if rng.random() < nofollow_share else "",
                        "_key": (names[d], sub, f"/a{path_seq}", query),
                        "_host": host}
                    past.append(link)
                links.append(link)
                kept.append(link)
            # record kinds the extractor must drop
            links.append({"path": "A@/href", "url": f"https://{page_host}/internal", "text": "home", "rel": ""})
            links.append({"path": "IMG@/src", "url": f"https://cdn.{names[order[0]]}/x.png", "text": "", "rel": ""})
            if p % 7 == 0:
                links.append({"path": "A@/href", "url": f"https://{names[order[1]]}/logo.png", "text": "img", "rel": ""})
                links.append({"path": "A@/href", "url": "mailto:someone@example.com", "text": "mail", "rel": ""})
            lines.append("WARC/1.0")
            lines.append("WARC-Type: metadata")
            lines.append(f"WARC-Target-URI: {uri}")
            lines.append("")
            lines.append(_record(uri, ip, date, f"title {path_seq % 101}", metas,
                                 [{k: v for k, v in l.items() if not k.startswith("_")} for l in links]))
            if noindex:
                continue
            pages += 1
            page_hosts[page_host] = page_hosts.get(page_host, 0) + 1
            for l in kept:
                raw_links += 1
                keys.add(l["_key"] + (page_host,))
                if page_nf or l["rel"] == "nofollow":
                    nofollow += 1
                link_hosts[l["_host"]] = link_hosts.get(l["_host"], 0) + 1
                src_hosts[page_host] = src_hosts.get(page_host, 0) + 1
        for j in range(junk_per_segment):
            lines.append("{ truncated record, not json" if j % 2 else "WARC-Warcinfo-ID: <urn:uuid:0>")
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = ("\n".join(lines) + "\n").encode("utf-8")
        with open(path, "wb") as raw:
            with gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0) as gz:
                gz.write(data)
        manifest.append(rel)
    with open(os.path.join(out_dir, "wat.paths"), "w") as f:
        f.write("".join(m + "\n" for m in manifest))

    def by_count(d):
        return [h for h, _ in sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))]

    link_domains = {}
    for (dom, _, _, _, _) in keys:
        link_domains[dom] = link_domains.get(dom, 0) + 1
    rank_hosts = dict(link_hosts)
    for h, c in src_hosts.items():
        rank_hosts[h] = rank_hosts.get(h, 0) + c
    return {
        "generator": f"wat-v{VERSION}",
        "segments": segments,
        "raw_links": raw_links,
        "distinct_keys": len(keys),
        "pages": pages,
        "nofollow_links": nofollow,
        "link_domains": by_count(link_domains),
        "page_hosts": by_count(page_hosts),
        "rank_hosts": by_count(rank_hosts),
    }
