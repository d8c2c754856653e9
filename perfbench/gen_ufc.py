#!/usr/bin/env python3
"""Seeded scrape_ufc_stats-shaped CSVs for the ufc_dashboard workload.

Writes the three files the reference loads, in the formats `Staging` and
`Analytics.titleReigns` parse (the ones the checked-in fixtures show):

  dim_ufc_event_details.csv   EVENT,URL,DATE,LOCATION; dates in the four
                              ladder formats ('Nov 12, 1993', 'March 11,
                              1994', 'Aug 2005', 'September 1996') plus a
                              few unparseable ones
  fact_ufc_fight_results.csv  EVENT,BOUT,OUTCOME,WEIGHTCLASS,METHOD,ROUND,
                              TIME,TIME FORMAT,REFEREE,URL; 'A vs. B' bouts,
                              W/L, D/D and NC/NC outcomes, '... Title Bout'
                              and 'Interim ... Title Bout' weight classes,
                              M:SS times
  title_status_changes_outside_octagon.csv
                              date,fighter,weight_category,reason,statement
                              for titles vacated outside the octagon

Rows come newest event first, as the public export lists them. Champions
are tracked per division, so title fights, defences, reigns and vacancies
form consistent histories.

Usage: python3 perfbench/gen_ufc.py OUTDIR SEED [N_EVENTS]
"""
import csv
import datetime as dt
import os
import random
import sys

DIVISIONS = ["Flyweight", "Bantamweight", "Featherweight", "Lightweight",
             "Welterweight", "Middleweight", "Light Heavyweight",
             "Heavyweight", "Women's Strawweight", "Women's Flyweight",
             "Women's Bantamweight"]
FIRST = ["Jon", "Jose", "Conor", "Amanda", "Daniel", "Stipe", "Khabib",
         "Israel", "Valentina", "Holly", "Max", "Dustin", "Charles", "Kamaru",
         "Leon", "Alex", "Sean", "Zhang", "Rose", "Jiri", "Tom", "Ciryl",
         "Islam", "Alexander", "Henry", "Cody", "Deiveson", "Brandon", "Petr",
         "Aljamain", "Francis", "Derrick", "Robert", "Paulo", "Marlon",
         "Julianna", "Tatiana", "Mackenzie", "Raquel", "Irene", "Yan",
         "Weili", "Carla", "Jessica", "Rafael", "Tony", "Justin", "Michael"]
LAST = ["Jones", "Aldo", "McGregor", "Nunes", "Cormier", "Miocic",
        "Nurmagomedov", "Adesanya", "Shevchenko", "Holm", "Holloway",
        "Poirier", "Oliveira", "Usman", "Edwards", "Pereira", "Strickland",
        "Namajunas", "Prochazka", "Aspinall", "Gane", "Makhachev",
        "Volkanovski", "Cejudo", "Garbrandt", "Figueiredo", "Moreno", "Yan",
        "Sterling", "Ngannou", "Lewis", "Whittaker", "Costa", "Vera", "Pena",
        "Dern", "Kowalkiewicz", "Aguilar", "Pennington", "Gadelha", "Silva",
        "Ferguson", "Gaethje", "Chandler", "Chimaev", "Burns", "Covington"]
CITIES = ["Las Vegas, Nevada, USA", "New York City, New York, USA",
          "Abu Dhabi, Abu Dhabi, United Arab Emirates", "London, England",
          "Sydney, New South Wales, Australia", "Toronto, Ontario, Canada",
          "Rio de Janeiro, Rio de Janeiro, Brazil", "Denver, Colorado, USA",
          "Paris, Ile-de-France, France", "Singapore, Singapore"]
REFEREES = ["Herb Dean", "Marc Goddard", "Jason Herzog", "Keith Peterson",
            "Dan Miragliotta", "Mark Smith", "John McCarthy"]
FINISHES = [("KO/TKO", 32), ("Submission", 20), ("TKO - Doctor's Stoppage", 2),
            ("DQ", 1)]
DECISIONS = [("Decision - Unanimous", 35), ("Decision - Split", 8),
             ("Decision - Majority", 2)]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]


def pick(rng, weighted):
    return rng.choices([w[0] for w in weighted], [w[1] for w in weighted])[0]


def fmt_date(rng, d):
    """One of the four formats the staging date ladder parses, rarely junk."""
    r = rng.random()
    if r < 0.70:
        return f"{MONTHS[d.month - 1][:3]} {d.day}, {d.year}"
    if r < 0.90:
        return f"{MONTHS[d.month - 1]} {d.day}, {d.year}"
    if r < 0.95:
        return f"{MONTHS[d.month - 1]} {d.year}"
    if r < 0.99:
        return f"{MONTHS[d.month - 1][:3]} {d.year}"
    return "TBD"


def hexid(rng):
    return "%016x" % rng.getrandbits(64)


def main():
    outdir, seed = sys.argv[1], int(sys.argv[2])
    n_events = int(sys.argv[3]) if len(sys.argv) > 3 else 400
    rng = random.Random(seed)
    os.makedirs(outdir, exist_ok=True)

    names = rng.sample([f"{f} {l}" for f in FIRST for l in LAST], 70 * len(DIVISIONS))
    pools = {div: names[i * 70:(i + 1) * 70] for i, div in enumerate(DIVISIONS)}
    champion = {div: None for div in DIVISIONS}

    events, fights, vacancies = [], [], []
    day = dt.date(1993, 11, 12)
    for e in range(n_events):
        day += dt.timedelta(days=rng.randint(10, 40))
        headliners = rng.sample(LAST, 2)
        name = (f"UFC {e + 1}: {headliners[0]} vs. {headliners[1]}" if e % 3 == 0
                else f"UFC Fight Night {e + 1}: {headliners[0]} vs. {headliners[1]}")
        events.append([name, f"http://ufcstats.com/event-details/{hexid(rng)}",
                       fmt_date(rng, day), rng.choice(CITIES)])
        bouts = []
        if rng.random() < 0.45:
            div = rng.choice(DIVISIONS)
            interim = champion[div] is not None and rng.random() < 0.08
            bouts.append((div, True, interim))
        bouts += [(rng.choice(DIVISIONS), False, False)
                  for _ in range(rng.randint(7, 12))]
        for b, (div, title, interim) in enumerate(bouts):
            pool = pools[div]
            if title and champion[div] and not interim:
                a = champion[div]
                opp = rng.choice([p for p in pool if p != a])
            else:
                a, opp = rng.sample(pool, 2)
            r = rng.random()
            outcome = "W/L" if r < 0.95 else ("D/D" if r < 0.98 else "NC/NC")
            five = title or b == 0
            rounds = 5 if five else 3
            if outcome == "NC/NC":
                method = rng.choice(["Overturned", "Could Not Continue"])
                rnd, secs = rng.randint(1, rounds), rng.randint(5, 299)
            elif outcome == "D/D" or rng.random() < 0.45:
                method = pick(rng, DECISIONS)
                rnd, secs = rounds, 300
            else:
                method = pick(rng, FINISHES)
                rnd, secs = rng.randint(1, rounds), rng.randint(5, 299)
            winner, loser = a, opp
            if outcome == "W/L" and rng.random() < 0.35:
                winner, loser = opp, a
            if title and outcome == "W/L" and not interim:
                champion[div] = winner
            klass = f"{div} Bout"
            if title:
                klass = (f"Interim UFC {div} Title Bout" if interim
                         else f"UFC {div} Title Bout")
            fights.append([name, f"{winner} vs. {loser}", outcome, klass, method,
                           str(rnd), f"{secs // 60}:{secs % 60:02d}",
                           "5 Rnd (5-5-5-5-5)" if five else "3 Rnd (5-5-5)",
                           rng.choice(REFEREES),
                           f"http://ufcstats.com/fight-details/{hexid(rng)}"])
        # now and then a champion is stripped or retires between events
        for div in DIVISIONS:
            if champion[div] and rng.random() < 0.01:
                reason = rng.choice(["strip", "retirement", "vacancy"])
                last = champion[div].split(" ")[-1]
                token = last + " retired" if reason == "retirement" else last
                when = day + dt.timedelta(days=rng.randint(1, 9))
                vacancies.append([fmt_date(rng, when), token, f"UFC {div} Championship",
                                  reason, f"{champion[div]} vacated the {div} title, "
                                  "outside the octagon."])
                champion[div] = None

    # the public export lists the newest event first
    events.reverse()
    order = {ev[0]: i for i, ev in enumerate(events)}
    fights.sort(key=lambda f: order[f[0]])

    def write(name, header, rows):
        with open(os.path.join(outdir, name), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)

    write("dim_ufc_event_details.csv", ["EVENT", "URL", "DATE", "LOCATION"], events)
    write("fact_ufc_fight_results.csv",
          ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND", "TIME",
           "TIME FORMAT", "REFEREE", "URL"], fights)
    write("title_status_changes_outside_octagon.csv",
          ["date", "fighter", "weight_category", "reason", "statement"], vacancies)
    print(f"{len(events)} events, {len(fights)} bouts, {len(vacancies)} vacancies")


if __name__ == "__main__":
    main()
