"""The reference's per-platform dataflows, re-expressed as Spark plans.

One function per reference ``parse_*`` method (FB/IG/TT/SC —
/root/reference/SMParser/smparsers.py), operating on DataFrames whose
schemas mirror the platform export JSON/TXT shapes (FIXTURES.md §3).
This is the capability-parity surface: a user of the reference can run
every report they run today, distributed.

Shared semantics preserved throughout:
- epoch-seconds timestamps → (date, 'h:mm a' time) per parse_time
  (smparserbase.py:193-211), date window inclusive (P1);
- ``clean_text`` scrub order incl. the alias bug (functions/scrub.py);
- malformed/shape-failing records dropped, never fail (hasattr guards
  → null-safe column ops);
- boolean flags rendered 'Yes'/'' (smparsers.py:443-444).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ScrubConfig
from ..functions.scrub import clean_text_pandas_udf, ner_scrub_pandas_udf
from ..functions.text import img_ext_expr, ph_num_expr
from ..operators.dates import in_date_range_expr
from ..operators.joins import semi_flag_join, zip_longest_join
from ..operators.pivots import (
    REACTION_CATEGORIES, dynamic_pivot_count, extract_category_expr, pivot_count,
)

MEDIA_COLUMNS = ["fp_src", "file_type", "Date", "Time", "ImgPath", "Caption"]


def _ts_cols(ts: Column) -> tuple[Column, Column, Column]:
    """parse_time triple for epoch-seconds input: (ts, date, 'h:mm a')."""
    t = F.timestamp_seconds(ts)
    return t, t.cast("date").alias("Date"), F.date_format(t, "h:mm a").alias("Time")


def _window(ts: Column, cfg: ScrubConfig) -> Column:
    return in_date_range_expr(F.timestamp_seconds(ts), cfg.first_date, cfg.last_date)


def _yes(cond: Column) -> Column:
    """reference bool rendering: 'Yes' / '' (smparsers.py:443-444)."""
    return F.when(cond, F.lit("Yes")).otherwise(F.lit(""))


# =========================================================================
# Facebook (smparsers.py:14-231)
# =========================================================================

def fb_username_from_profile(profile: DataFrame) -> str:
    """parse_profile_metadata (smparsers.py:21-25): the candidate's
    username extracted from profile_information JSON — a one-row config
    source (S7) feeding ScrubConfig.username, not a dataflow.

    Input schema mirrors profile_v2: profile_v2:struct<name:struct<
    full_name:string>>.
    """
    row = profile.select(
        F.col("profile_v2")["name"]["full_name"].alias("u")
    ).first()
    return row.u if row else ""


def ig_username_from_profile(profile: DataFrame) -> str:
    """IG parse_profile_metadata (smparsers.py:239-243):
    profile_user[0].string_map_data.Username.value."""
    row = profile.select(
        F.col("profile_user")[0]["string_map_data"]["Username"]["value"].alias("u")
    ).first()
    return row.u if row else ""


def fb_reactions_report(reactions: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_reactions (smparsers.py:38-73): window filter → type +
    last-match-wins category → pivot with per-type Total.

    Input schema: timestamp:long, title:string,
    data:array<struct<reaction:struct<reaction:string,actor:string>>>.
    """
    inrange = reactions.filter(_window(F.col("timestamp"), cfg))
    typed = inrange.select(
        F.col("data")[0]["reaction"]["reaction"].alias("Type"),
        extract_category_expr(F.col("title"), REACTION_CATEGORIES).alias("Category"),
    )
    return pivot_count(typed, "Type", "Category", REACTION_CATEGORIES, total_name="Total")


def _comment_columns(att: DataFrame, key_cols: list[str], cfg: ScrubConfig,
                     sep: str) -> DataFrame:
    """Reference-exact comment routing + scrub for attachment frames.

    The reference cleans EACH comment, quotes it, and joins
    (smparsers.py:121-126, 171-177) — so the alias bug's count=2 cap and
    the handle regex apply per comment, never across a joined string.
    pandas UDFs can't run inside HOF lambdas, so: posexplode the
    comments, scrub per exploded row, then re-aggregate in comment order
    (array_sort on (pos, …) structs).

    Input: ``key_cols`` + ``comments:array<struct<author,comment>>``.
    Output: key_cols + `Subject Comments` + `Friend Comments`.
    """
    clean = clean_text_pandas_udf(cfg)
    c = att.select(
        *key_cols,
        F.posexplode_outer(
            F.coalesce(F.col("comments"), F.array())
        ).alias("_ci", "_c"),
    )
    c = c.select(
        *key_cols, "_ci",
        F.col("_c.author").contains(cfg.username).alias("_self"),
        F.concat(F.lit('"'), clean(F.col("_c.comment")), F.lit('"')).alias("_q"),
    )
    cs = F.array_sort(F.collect_list(F.struct("_ci", "_self", "_q")))
    agg = c.groupBy(*key_cols).agg(cs.alias("_cs"))
    side = lambda want_self: F.array_join(
        F.transform(
            F.filter(F.col("_cs"),
                     lambda x: x["_self"] if want_self else ~x["_self"]),
            lambda x: x["_q"],
        ),
        sep,
    )
    return agg.select(
        *key_cols,
        side(True).alias("Subject Comments"),
        side(False).alias("Friend Comments"),
    )


def fb_posts_payload(posts: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_posts (smparsers.py:75-134): post rows + per-attachment rows.

    Input schema: id:long (post index), timestamp:long, title:string,
    data:array<struct<post:string>>,
    attachments:array<struct<data:array<struct<
        media:struct<uri:string,title:string,description:string,
                     comments:array<struct<author:string,comment:string>>>,
        external_context:struct<uri:string>>>>>.

    Output: the reference CSV columns + a `row_kind` marker.
    """
    clean = clean_text_pandas_udf(cfg)
    p = posts.filter(_window(F.col("timestamp"), cfg))
    _, date, time = _ts_cols(F.col("timestamp"))
    p = p.select("*", date, time)

    # post-row: caption = '; '-join of cleaned [data[0].post, title]
    cap_parts = F.array_compact(F.array(
        clean(F.col("data")[0]["post"]), clean(F.col("title"))
    ))
    post_rows = p.select(
        F.col("Date"), F.col("Time"),
        F.lit("Profile").alias("Location"), F.lit("N/A").alias("Post"),
        F.array_join(cap_parts, "; ").alias("Caption"),
        F.lit("").alias("Subject Comments"), F.lit("").alias("Friend Comments"),
        F.lit("post").alias("row_kind"),
    )

    # attachment rows: explode attachments[0].data with position
    att = p.select(
        "id", "Date", "Time",
        F.posexplode_outer(F.col("attachments")[0]["data"]).alias("j", "att"),
    ).filter(F.col("att").isNotNull())

    is_media = F.col("att.media").isNotNull()
    is_ext = F.col("att.external_context").isNotNull()
    media_fp = F.col("att.media.uri")
    ext = img_ext_expr(media_fp)
    out_path = F.concat(
        F.lit("media/FB/Post"), F.col("id").cast("string"),
        F.lit("/Photo_"), F.col("id").cast("string"), F.lit("_"),
        ph_num_expr(F.col("j")), ext,
    )

    caption_media = F.array_compact(F.array(
        F.col("att.media.title"), clean(F.col("att.media.description"))
    ))
    caption_ext = F.array(F.concat(F.lit(": "), F.col("att.external_context.uri")))

    # comments routed by author containing username (smparsers.py:125),
    # scrubbed PER COMMENT exactly like the reference (the alias bug's
    # count=2 cap applies per comment string) — see _comment_columns.
    keyed = (
        att.filter((is_media & ext.isNotNull()) | is_ext)
        .select(
            "id", "j", "Date", "Time",
            F.when(is_media, media_fp).otherwise(F.lit("External")).alias("Location"),
            F.when(is_media, out_path).otherwise(F.lit("")).alias("Post"),
            F.array_join(
                F.when(is_media, caption_media).otherwise(caption_ext), "; "
            ).alias("Caption"),
            F.col("att.media.comments").alias("comments"),
        )
    )
    cmts = _comment_columns(keyed.select("id", "j", "comments"), ["id", "j"], cfg, "; ")
    att_rows = (
        keyed.drop("comments")
        .join(cmts, on=["id", "j"])
        .select(
            "Date", "Time", "Location", "Post", "Caption",
            "Subject Comments", "Friend Comments",
            F.lit("attachment").alias("row_kind"),
        )
    )
    return post_rows.unionByName(att_rows)


def fb_profile_updates_payload(updates: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_profile_updates (smparsers.py:152-190): update rows +
    per-media-attachment rows. Differs from parse_posts in four ways,
    each reproduced: records without `title` are skipped entirely
    (:158); the attachment row's Caption is the POST's cleaned title,
    not the media's (:186); only media attachments are emitted (no
    external_context branch, :168); and the comment join separator is
    ';' without a space (:187-188).

    Input schema: id:long (update index), timestamp:long, title:string,
    attachments:array<struct<data:array<struct<
        media:struct<uri:string,title:string,description:string,
                     comments:array<struct<author:string,comment:string>>>>>>>.
    """
    clean = clean_text_pandas_udf(cfg)
    p = updates.filter(_window(F.col("timestamp"), cfg)) \
        .filter(F.col("title").isNotNull())
    _, date, time = _ts_cols(F.col("timestamp"))
    p = p.select("*", date, time, clean(F.col("title")).alias("_caption"))

    post_rows = p.select(
        F.col("Date"), F.col("Time"),
        F.lit("Profile").alias("Location"), F.lit("N/A").alias("Post"),
        F.col("_caption").alias("Caption"),
        F.lit("").alias("Subject Comments"), F.lit("").alias("Friend Comments"),
        F.lit("profile_update").alias("row_kind"),
    )

    att = p.select(
        "id", "Date", "Time", "_caption",
        F.posexplode_outer(F.col("attachments")[0]["data"]).alias("j", "att"),
    ).filter(F.col("att.media").isNotNull())

    media_fp = F.col("att.media.uri")
    ext = img_ext_expr(media_fp)
    out_path = F.concat(
        F.lit("media/FB/Post"), F.col("id").cast("string"),
        F.lit("/Photo_"), F.col("id").cast("string"), F.lit("_"),
        ph_num_expr(F.col("j")), ext,
    )

    # same per-comment scrub/routing as fb_posts_payload; the reference
    # joins with ';' here (no space, smparsers.py:187-188).
    keyed = (
        att.filter(ext.isNotNull())
        .select(
            "id", "j", "Date", "Time",
            media_fp.alias("Location"),
            out_path.alias("Post"),
            F.col("_caption").alias("Caption"),
            F.col("att.media.comments").alias("comments"),
        )
    )
    cmts = _comment_columns(keyed.select("id", "j", "comments"), ["id", "j"], cfg, ";")
    att_rows = (
        keyed.drop("comments")
        .join(cmts, on=["id", "j"])
        .select(
            "Date", "Time", "Location", "Post", "Caption",
            "Subject Comments", "Friend Comments",
            F.lit("attachment").alias("row_kind"),
        )
    )
    return post_rows.unionByName(att_rows)


def _subject_media_comments(posts: DataFrame, cfg: ScrubConfig,
                            require_title: bool = False) -> DataFrame:
    """Raw subject comments that the reference appends to rem_comments:
    only in-window posts, only media attachments with a whitelisted
    extension (the `continue`s at smparsers.py:88/107 and :157-158/:166
    run BEFORE the comment loop)."""
    p = posts.filter(_window(F.col("timestamp"), cfg))
    if require_title:
        p = p.filter(F.col("title").isNotNull())
    att = p.select(F.explode(F.col("attachments")[0]["data"]).alias("att"))
    att = att.filter(
        F.col("att.media").isNotNull()
        & img_ext_expr(F.col("att.media.uri")).isNotNull()
    )
    c = att.select(
        F.explode(F.coalesce(F.col("att.media.comments"), F.array())).alias("c")
    )
    return c.filter(F.col("c.author").contains(cfg.username)) \
        .select(F.col("c.comment").alias("comment"))


def fb_rem_comments(posts: DataFrame, cfg: ScrubConfig,
                    profile_updates: DataFrame | None = None) -> DataFrame:
    """The subject's own raw comments on their posts — the J2 build side
    consumed by fb_comments_payload. The reference accumulates
    rem_comments from BOTH parse_posts (smparsers.py:126-127) and
    parse_profile_updates (:175-176); pass both frames or a
    profile-update-only subject comment wrongly survives the anti-join.
    """
    rem = _subject_media_comments(posts, cfg)
    if profile_updates is not None:
        rem = rem.unionByName(
            _subject_media_comments(profile_updates, cfg, require_title=True)
        )
    return rem.distinct()


def fb_comments_payload(comments: DataFrame, rem_comments: DataFrame,
                        cfg: ScrubConfig) -> DataFrame:
    """parse_comments (smparsers.py:191-218): window filter, anti-skip of
    already-emitted subject comments (J2), never-fail nested access.

    Input: timestamp:long, attachments:string,
    data:array<struct<comment:struct<comment:string>>>.
    """
    clean = clean_text_pandas_udf(cfg)
    c = comments.filter(_window(F.col("timestamp"), cfg))
    _, date, time = _ts_cols(F.col("timestamp"))
    cc = F.col("data")[0]["comment"]["comment"]
    c = c.select(
        date, time, cc.alias("_cc"),
        F.col("attachments").alias("URL"),
    )
    # anti-join replaces the `cc in self.rem_comments: continue` skip.
    # Rows whose comment is NULL survive the anti-join on their own
    # (NULL keys never match the build side), exactly once — matching
    # the reference's except-branch which emits '' once per record.
    keep = c.join(
        F.broadcast(rem_comments.withColumnRenamed("comment", "_cc")),
        on="_cc", how="left_anti",
    )
    return keep.select(
        "Date", "Time",
        F.lit("Participant").alias("Author"),
        F.coalesce(clean(F.col("_cc")), F.lit("")).alias("Subject Comments"),
        F.lit("").alias("Friend Comments"),
        "URL",
    )


# =========================================================================
# Instagram (smparsers.py:234-346)
# =========================================================================

def ig_comments_routing(comments: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_comments (smparsers.py:245-272): window filter → scrub →
    blank-after-scrub drop (P4) → route by author == username (P8).

    Input: title:string (author),
    string_list_data:array<struct<timestamp:long,value:string>>.
    Output: Date, Time, Content, route ('own_post'|'other_post').
    """
    clean = clean_text_pandas_udf(cfg)
    c0 = comments.select(
        F.col("title").alias("author"),
        F.col("string_list_data")[0]["timestamp"].alias("ts"),
        F.col("string_list_data")[0]["value"].alias("value"),
    )
    c0 = c0.filter(_window(F.col("ts"), cfg))
    _, date, time = _ts_cols(F.col("ts"))
    scored = c0.select(
        date, time, clean(F.col("value")).alias("Content"), "author"
    ).filter(~F.col("Content").rlike(r"^\s*$"))
    return scored.select(
        "Date", "Time", "Content",
        F.when(F.col("author") == cfg.username, F.lit("own_post"))
         .otherwise(F.lit("other_post")).alias("route"),
    )


def ig_posts_media(posts: DataFrame, stories: DataFrame,
                   profile_pics: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_posts (smparsers.py:286-336): photos ∪ stories ∪ profile
    pics accumulated into the Media schema (U1), with per-post photo
    numbering (W1) and extension whitelist (P5/F10).

    posts: id:long, creation_timestamp:long?, title:string,
           media:array<struct<uri:string,title:string,creation_timestamp:long>>
    stories/profile_pics: uri:string, creation_timestamp:long, title:string
    """
    clean = clean_text_pandas_udf(cfg)

    ph = posts.select(
        "id",
        F.col("creation_timestamp").alias("post_ts"),
        F.coalesce(F.col("title"), F.lit("")).alias("post_title"),
        F.posexplode("media").alias("j", "m"),
    )
    ts = F.coalesce(F.col("post_ts"), F.col("m.creation_timestamp"))
    ext = img_ext_expr(F.col("m.uri"))
    _, date, time = _ts_cols(ts)
    photos = (
        ph.filter(in_date_range_expr(F.timestamp_seconds(ts), cfg.first_date, cfg.last_date))
        .filter(ext.isNotNull())
        .select(
            F.col("m.uri").alias("fp_src"),
            ext.alias("file_type"),
            date, time,
            F.concat(
                F.lit("media/IG/Post"), F.col("id").cast("string"),
                F.lit("/Photo_"), F.col("id").cast("string"), F.lit("_"),
                ph_num_expr(F.col("j")), ext,
            ).alias("ImgPath"),
            F.concat(F.col("post_title"), clean(F.col("m.title"))).alias("Caption"),
        )
    )

    def simple(src: DataFrame, platform_dir: str) -> DataFrame:
        e = img_ext_expr(F.col("uri"))
        _, d, t = _ts_cols(F.col("creation_timestamp"))
        return (
            src.filter(_window(F.col("creation_timestamp"), cfg))
            .filter(e.isNotNull())
            .select(
                F.col("uri").alias("fp_src"), e.alias("file_type"), d, t,
                F.concat(F.lit(platform_dir), F.col("uri")).alias("ImgPath"),
                clean(F.col("title")).alias("Caption"),
            )
        )

    return photos.unionByName(simple(stories, "media/IG/stories/")) \
                 .unionByName(simple(profile_pics, "media/IG/profile/"))


# =========================================================================
# TikTok (smparsers.py:349-484) — TXT k/v record inputs
# =========================================================================

def tt_profile_payload(profile_kv: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_profile_metadata (smparsers.py:356-365): fixed-token
    redaction of Birthdate/Email (F3) then clean_text per value.

    Input: item:string, value:string (one row per profile field).
    """
    clean = clean_text_pandas_udf(cfg)
    redacted = F.when(F.col("item") == "Birthdate", F.lit("{{BIRTHDAY}}")) \
        .when(F.col("item") == "Email Address", F.lit("{{EMAIL}}")) \
        .otherwise(F.col("value"))
    return profile_kv.select(
        F.col("item").alias("Profile Item"),
        clean(redacted).alias("Value"),
    )


def tt_follow_counts(follower: DataFrame, following: DataFrame,
                     cfg: ScrubConfig) -> DataFrame:
    """parse_follow (smparsers.py:367-381): date-filtered counts.
    Inputs: Date:string ('YYYY-MM-DD HH:MM:SS')."""
    def n(df, name):
        return df.filter(
            in_date_range_expr(F.to_timestamp("Date"), cfg.first_date, cfg.last_date)
        ).agg(F.count(F.lit(1)).alias(name))
    return n(follower, "Followers").crossJoin(n(following, "Following"))


def tt_video_browsing(browsing: DataFrame, favorites: DataFrame,
                      likes: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_video_browsing (smparsers.py:425-456): window filter, J1
    semi-flags vs favorites/likes ('Yes'/''), then {{URL}} redaction.

    All inputs: Date:string, `Video Link`:string.
    """
    inrange = browsing.filter(
        in_date_range_expr(F.to_timestamp("Date"), cfg.first_date, cfg.last_date)
    )
    flagged = semi_flag_join(inrange, favorites, "Video Link", "_fav")
    flagged = semi_flag_join(flagged, likes, "Video Link", "_lk")
    return flagged.select(
        "Date",
        F.lit("{{URL}}").alias("Video Link"),
        _yes(F.col("_lk")).alias("Liked"),
        _yes(F.col("_fav")).alias("Favorite"),
    )


def tt_user_videos(videos: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_user_videos (smparsers.py:462-472): date filter + {{URL}}
    redaction; `Like(s)` passes through untouched.

    Input: Date:string, `Video Link`:string, `Like(s)`:string.
    """
    return videos.filter(
        in_date_range_expr(F.to_timestamp("Date"), cfg.first_date, cfg.last_date)
    ).select("Date", F.lit("{{URL}}").alias("Video Link"), F.col("Like(s)"))


# =========================================================================
# Snapchat (smparsers.py:509-569)
# =========================================================================

def sc_friends_counts(friends_map: DataFrame) -> DataFrame:
    """parse_friends (smparsers.py:515-522): metric → list length.
    Input: metric:string, items:array<...> (the friends.json dict)."""
    return friends_map.select(
        F.col("metric").alias("Metric"), F.size("items").alias("Count")
    )


def sc_views(views: DataFrame, cfg: ScrubConfig) -> DataFrame:
    """parse_views (smparsers.py:524-537): per-viewer dynamic pivot of
    media types, blank → OTHER, window-filtered on View Date.

    Input: viewer:string, view_date:string, media_type:string
    (story_history.json flattened one row per view).
    """
    inrange = views.filter(
        in_date_range_expr(F.to_timestamp("view_date"), cfg.first_date, cfg.last_date)
    ).withColumnRenamed("viewer", "Viewer")
    return dynamic_pivot_count(inrange, "Viewer", "media_type", blank_default="OTHER")


def sc_time_spent(breakdown: DataFrame) -> DataFrame:
    """parse_content_and_interests part 1 (smparsers.py:545-551):
    'Category: Value' splitter (F7). Input: entry:string."""
    return breakdown.select(
        F.split("entry", ": ", 2)[0].alias("Category"),
        F.split("entry", ": ", 2)[1].alias("Value"),
    )


def sc_interaction_types(interests: DataFrame, channels: DataFrame,
                         subscriptions: DataFrame, rankings: DataFrame) -> DataFrame:
    """parse_content_and_interests part 2 (smparsers.py:552-561):
    NER-scrub four lists then zip_longest them column-wise (J4).

    Each input: _ord:long, value:string.
    """
    ner = ner_scrub_pandas_udf()
    sides = []
    for df, name in [
        (interests, "Profile Interest Category"),
        (channels, "Discover Channel"),
        (subscriptions, "Subscription"),
        (rankings, "Ranking Content Interests"),
    ]:
        sides.append(df.select("_ord", ner(F.col("value")).alias(name)))
    return zip_longest_join(sides)
