# -*- coding: utf-8 -*-
"""SURT canonicalizer parity tests.

Every (url, surt) pair below is harvested from the reference's golden
outputs: /root/reference/tests/test_small_warcs.py:10-101,
test_excludes.py:11-41, test_screenshot.py:86-97.  The `a` column of each
expected CDX line is the input URL, the `N` column the expected SURT key.
These are pure-Python tests (no Spark) — the same function runs inside the
surt_key pandas UDF.
"""
import pytest

from cdx_writer_spark.canonicalize import (
    massaged_url,
    safe_url,
    surt_host,
    surt_key,
    UrlParseError,
)

# (input url [latin1-faithful str], expected SURT key)
FIXTURE_PAIRS = [
    # --- hosts: www-strip, :80 strip, reversal, lowercase ---
    ("http://www.afp.com:80/home/img/es.gif", "com,afp)/home/img/es.gif"),
    ("https://www.facebook.com/Vanishing-Ireland-110498185666457/",
     "com,facebook)/vanishing-ireland-110498185666457"),
    ("https://scontent-cdg2-1.xx.fbcdn.net/300261_10150266886136400_4821326_n.",
     "net,fbcdn,xx,scontent-cdg2-1)/300261_10150266886136400_4821326_n."),
    ("http://twitter.com/unesco_fr.xml", "com,twitter)/unesco_fr.xml"),
    ("http://mars.spaceports.com:80/~jddp/images/links_off.gif",
     "com,spaceports,mars)/~jddp/images/links_off.gif"),
    ("https://kepler.nasa.gov/layout/mws/main.css",
     "gov,nasa,kepler)/layout/mws/main.css"),
    ("https://www.wikipedia.org/", "org,wikipedia)/"),
    ("http://free.allocine.fr:80/tv/cineaction.asp",
     "fr,allocine,free)/tv/cineaction.asp"),
    ("http://www.killerjo.net:80/robots.txt", "net,killerjo)/robots.txt"),
    ("http://co.butler.pa.us/robots.txt", "us,pa,butler,co)/robots.txt"),
    ("http://youngscholars.unimelb.edu.au/", "au,edu,unimelb,youngscholars)/"),
    ("https://archive.org/", "org,archive)/"),
    ("http://example.com/", "com,example)/"),
    ("https://twitter.com/zionfather/status/849230566553788416",
     "com,twitter)/zionfather/status/849230566553788416"),
    # www<digits> strip (spaces_in_url fixture has www3)
    # IP host reversed per octet (empty_payload_header_ending_with_lf)
    ("http://210.179.120.1/test", "1,120,179,210)/test"),
    # --- path: lowercase, trailing-slash strip ---
    ("http://www.cdnow.com:80/cgi-bin/mserver/pagename=/RP/CDN/FIND/discography.html/artistid=HENDERSON*JOE/select=music",
     "com,cdnow)/cgi-bin/mserver/pagename=/rp/cdn/find/discography.html/artistid=henderson*joe/select=music"),
    ("http://cafethumb.naver.net/20101223_84/qkrgns3_129303386816936xUq_jpg/imag0030_qkrgns3.jpg",
     "net,naver,cafethumb)/20101223_84/qkrgns3_129303386816936xuq_jpg/imag0030_qkrgns3.jpg"),
    ("http://www.cbt.ki.se:80/wwwCNT/Staff/bergman.jan/",
     "se,ki,cbt)/wwwcnt/staff/bergman.jan"),
    ("http://peskomment.ru/IMG/yandex.png", "ru,peskomment)/img/yandex.png"),
    ("http://www.richmondstrikers.com/Alumni/index_E.html",
     "com,richmondstrikers)/alumni/index_e.html"),
    ("http://example.com/missing_content_type", "com,example)/missing_content_type"),
    ("http://www.lastdaywatchers.com/robots.txt",
     "com,lastdaywatchers)/robots.txt"),
    ("http://www.channel4.com/static/globalnav/css/globalnav.css",
     "com,channel4)/static/globalnav/css/globalnav.css"),
    ("http://www.guide-fleurs.com/site/partenaires.htm",
     "com,guide-fleurs)/site/partenaires.htm"),
    ("http://play.mp3.com/cgi-bin/play/play.cgi/AAIAQo93MQDABG5vcm1QBAAAAFJ88QUAUQEAAABDNyyxP6SbRY55RYa.wO2ewL.61xo-/Losing_Time.mp3",
     "com,mp3,play)/cgi-bin/play/play.cgi/aaiaqo93mqdabg5vcm1qbaaaafj88quauqeaaabdnyyxp6sbry55rya.wo2ewl.61xo-/losing_time.mp3"),
    ("http://art.rolo.vn:80/a/chi-tiet/021826271565622/ngoc-trinh-xinh-tuoi-o-hoi-an",
     "vn,rolo,art)/a/chi-tiet/021826271565622/ngoc-trinh-xinh-tuoi-o-hoi-an"),
    ("http://www.sueddeutsche.de:80/muenchen/manu-chao-in-muenchen-che-guitarra-1.1114509-2",
     "de,sueddeutsche)/muenchen/manu-chao-in-muenchen-che-guitarra-1.1114509-2"),
    ("http://jobs.monsterindia.com:80/details/9660976.html",
     "com,monsterindia,jobs)/details/9660976.html"),
    # --- ftp scheme ---
    ("ftp://ftp.mayn.de/pub/really_old_stuff/INDEX.txt",
     "de,mayn,ftp)/pub/really_old_stuff/index.txt"),
    ("ftp://ftp.gnome.org/HEADER.html", "org,gnome,ftp)/header.html"),
    ("ftp://ftp.cs.ucla.edu/tech-report/198_-reports/860078.pdf",
     "edu,ucla,cs,ftp)/tech-report/198_-reports/860078.pdf"),
    # --- query: sort, lowercase, %-unescape w/ '&' re-split ---
    ("http://cheapchicks.org/cgi-bin/count/slcnt.cgi?c=3",
     "org,cheapchicks)/cgi-bin/count/slcnt.cgi?c=3"),
    ("http://service.bfast.com/bfast/serve?bfmid=1821322&siteid=18015626&bfpage=page_d_accueil",
     "com,bfast,service)/bfast/serve?bfmid=1821322&bfpage=page_d_accueil&siteid=18015626"),
    ("https://www.facebook.com/login.php?login_attempt=1",
     "com,facebook)/login.php?login_attempt=1"),
    ("https://www.fcc.gov/ecfs/search/filings?date_disseminated=%5Bgte%5D1992-01-09%5Blte%5D1992-01-09&limit=100&sort=date_disseminated,DESC",
     "gov,fcc)/ecfs/search/filings?date_disseminated=[gte]1992-01-09[lte]1992-01-09&limit=100&sort=date_disseminated,desc"),
    # %20 stays escaped; trailing path slash stripped with query present
    ("https://www.example.com/weather/forecast/json/McLean%20VA/?ajax=true",
     "com,example)/weather/forecast/json/mclean%20va?ajax=true"),
    ("https://www.example.com/data.json", "com,example)/data.json"),
    # %26 unescape splits a query arg; '+trust...' sorts before 'paddr'
    ("http://www3.fdic.gov/Call_tfr_rpts/toccallreport1.asp?pCert=16445&pDocket=0&pcmbQtrEnd=09%2F30%2F2002&paddr=MAIN%20STREET%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20&pCity=CHENEYVILLE+++++++++++++++++++&pStalp=LA&pzip5=71325&pInstitution=The+Farmers+Bank+%26+Trust+of+Cheneyville+++++++++++++++++++++++++++++++++",
     "gov,fdic)/call_tfr_rpts/toccallreport1.asp?+trust+of+cheneyville+++++++++++++++++++++++++++++++++&paddr=main%20street%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20%20&pcert=16445&pcity=cheneyville+++++++++++++++++++&pcmbqtrend=09/30/2002&pdocket=0&pinstitution=the+farmers+bank+&pstalp=la&pzip5=71325"),
    # nested escaped url fully unescaped + re-split + stable sort w/ dups kept
    ("http://alumni.icms.edu.au/s/1278/index.aspx?sid=1278&gid=1&returnurl=http%3a%2f%2falumni.icms.edu.au%2fs%2f1278%2findex.aspx%3fsid%3d1278%26gid%3d1%26returnurl%3dhttp%3a%2f%2falumni.icms.edu.au%2fs%2f1278%2findex.aspx%3fsid%3d1278%26gid%3d1%26verbiagebuilder%3d1%26pgid%3d94%26cid%3d256%26mid%3d3054%26pgid%3d3%26cid%3d421&pgid=8&cid=46",
     "au,edu,icms,alumni)/s/1278/index.aspx?cid=256&cid=421&cid=46&gid=1&gid=1&gid=1&mid=3054&pgid=3&pgid=8&pgid=94&returnurl=http://alumni.icms.edu.au/s/1278/index.aspx?sid=1278&returnurl=http://alumni.icms.edu.au/s/1278/index.aspx?sid=1278&sid=1278&verbiagebuilder=1"),
    # --- raw high bytes -> lowercase %-escapes ---
    ("http://www.t%EF%BF%BD%04.82.net/", "net,82,t%ef%bf%bd%04)/"),
    ("http://arevebebe.free.fr/php3/selcateg.php3?selec=\xe9cole",
     "fr,free,arevebebe)/php3/selcateg.php3?selec=%e9cole"),
    ("http://guide.pconline.com.cn:80/gamecomment/post.jsp?column=netgame&topic=\xce\xd2\xc3\xc7\xd7\xf6\xd6\xf7\xb5\xc4\xca\xc0\xb4\xfa\xb5\xbd\xc0\xb4\xc1\xcb\xa3\xa1\xa1\xb6\xc8\xd9\xd2\xab\xa1\xb7\xb7\xa8\xb5\xe4\xd5Q\xc9\xfa\xa3\xa1",
     "cn,com,pconline,guide)/gamecomment/post.jsp?column=netgame&topic=%ce%d2%c3%c7%d7%f6%d6%f7%b5%c4%ca%c0%b4%fa%b5%bd%c0%b4%c1%cb%a3%a1%a1%b6%c8%d9%d2%ab%a1%b7%b7%a8%b5%e4%d5q%c9%fa%a3%a1"),
    # fragment dropped; control bytes escaped (formfeed fixture, after safe_url)
    ("http://www.megaclick.com:80/notf!\xca\x9d\xf5\x99s\x19\xf1d\xef\x96\x03X\x92\x8d\xa7\x1d\x99\xf9!\xd7\x97/\x8c\x1c52\xfa\xf9\xf2b\xe2\x89u\xdc\xad2#l\x8a\xae\xd9\xdf\xbd\x05;2z\x91\x10r%0C\xcf9\xbe",
     "com,megaclick)/notf!%ca%9d%f5%99s%19%f1d%ef%96%03x%92%8d%a7%1d%99%f9!%d7%97/%8c%1c52%fa%f9%f2b%e2%89u%dc%ad2"),
    # long base64-ish query values (crlf_at_1k_boundary fixtures)
    ("http://whitiangamarine.tradeaboat.co.nz/emailAFriend.aspx?item=H4sIAGW4X00A%2fwFwAo%2f9gaXg6UTMkoLWV1Zy9nOhybsaOj36okTTM%2fCdGlV9et4wGW8ywbKoacCcFSjvDmf7BgE%2bke8eDGs5H4ib0RuE96Yj2%2fR5LIXmy1SUEue5IiHmYmS9jl9femiZGo6yAeW0fX%2bSnCkd5D%2bOW5216i0SJ9yb0PZJ%2fI%2f3z3manNAv042wJYFyUgOGpN6yV2wZGUEERk5FQI%2bmSASd88RTsytzksZuC%2fmTpDowhevXiY3N2%2br1n6Q9utfvEKuy5bonZPqy7BlK93yJ9DnviiT0ZJMsHGOTXC0NUywIonFpIXfogmm8y6I3RfXxQXD5p95qmiogdI1rvPgKCaV%2bgO4nZ4r%2fCAicl697pcwFKCQyFW5ZTS74%2bSnrdEssBdz2quceotYDcW2GH3hogkrRupiqN9hFdVsb2p3HXP%2fYGkH9W6%2bD8jp7TyLmALvnJJevST%2f6wlbQRhWrsNlPXnTjxQZrTw7z8E%2f%2bo5BFsb6HgWfXzULQZ2RnNFvAZOMgkcKtHopRTbA6cp5ifB8j8sFoV7PVwifNgcLBR28EKMjAeBqRZnBlB4nJwEISomyeNIBP%2fQlvpV4sqArZdUhs1qRi9TOQ%2fToiaSrlKpq%2bSdSbuZqjXIJ9b%2ftjgx8biQe129TDOB0BDHtEXwqq1aoaASxmTqddrYKqCRvcKjfH1aYSZHyL9p6xS6LwMAlO2myGxnZeGkrVpfr5C%2fEDJp6HR%2f28EgR4fdXyyRWauMhoPrQgXYJTq7NQwv7m8JYyvxCfGpX6Kz6ftu4NMBAHPuhGxd%2fEDDP5y3DUIcJBCAyMMvvMOJQXMXb8cpsyTv9ZcU1RN5ehrp2iyPudY%2b6iHHACAAA%3d",
     "nz,co,tradeaboat,whitiangamarine)/emailafriend.aspx?item=h4siagw4x00a/wfwao/9gaxg6utmkolwv1zy9nohybsaoj36okttm/cdglv9et4wgw8ywbkoacccfsjvdmf7bge+ke8edgs5h4ib0rue96yj2/r5lixmy1sueue5iihmyms9jl9femizgo6yaew0fx+snckd5d+ow5216i0sj9yb0pzj/i/3z3mannav042wjyfyugogpn6yv2wzgueerk5fqi+msasd88rtsytzkszuc/mtpdowhevxiy3n2+r1n6q9utfvekuy5bonzpqy7blk93yj9dnviit0zjmshgotxc0nuywionfpixfogmm8y6i3rfxxqxd5p95qmiogdi1rvpgkcav+go4nz4r/caicl697pcwfkcqyfw5zts74+snrdessbdz2quceotydcw2gh3hogkrrupiqn9hfdvsb2p3hxp/ygkh9w6+d8jp7tylmalvnjjevst/6wlbqrhwrsnlpxntjxqzrtw7z8e/+o5bfsb6hgwfxzulqz2rnnfvazomgkckthoprtba6cp5ifb8j8sfov7pvwifngclbr28ekmjaebqrznblb4njweisomyenibp/qlvpv4sqarzduhs1qri9toq/toiasrlkpq+sdsbuzqjxij9b/tjgx8biqe129tdob0bdhtexwqq1aoaasxmtqddrykqcrvckjfh1ayszhyl9p6xs6lwmalo2mygxnzegkrvpfr5c/edjp6hr/28egr4fdxyyrwaumhoprqgxyjtq7nqwv7m8jyyvxcfgpx6kz6ftu4nmbahpuhgxd/eddp5y3duicjbcaymmvvmojqxmxb8cpsytv9zcu1rn5ehrp2iypudy+6ihhacaaa="),
    ("https://www.grandtourer.com.au/Aspx/Login.aspx?4=H6VKLMsHqnBpvsscB7x7Iu2%2fLUOKwCKr5nsukefI3ygAG1WTqOR9vtiWv%2banh9sU4sHTQmRRJY53DHQpXiF%2bVjqKB%2btaJvfHn%2fSN1OQgaxlY4i1Ciwbi6jbK%2bI0fQqn44Wt18szRgN95ygNRUK9BaYMdqUzChH7I%2fpAk180zCFCCRUD%2bLqMMuKvLVg0qOQ6Kvbos8DqO3MH5UnwOcLxiID2%2bmBMA2Rfp%2f015%2bo5%2bDNRq%2fUMOF3aETtvSY7i%2fbCmGKBn%2f6WqkNr04Kfi4PPWJIg2VCw4AV8hj2FqbO%2b3JUtdRYfGYulizuQJEbrh0LMah9sGKRPomWA0hgZmvf1AHoYqbVNbwUJeEKCKxrYdND%2bDtxyOzQlpygN%2fgCeDbKOuBMMMLdSl%2bsTl4qZoMXnGK3XNxiw%2b%2fcsq%2fPWyIMCBtdl%2ffXvnJ6J4L3M5v66mjhXmyZk%2fwfp7SpfzegHL%2bX4iH9DZzl8nqr%2f%2bmA7E6JHmyX4%2fDWKrEsqH3MZMIqddmDp6cJtnxAPULfAmv%2fTDY1VGJdl4PBIASArTIBF4nnXLglpvcy%2bcm3j83nyByyTxbRX9%2bX1VcVNvPo8SIpSpuYP8xi0GlNsMaW%2fu%2bowll28EUzDLVAnMz2j0rcdhTqKYEJfhN%2frm4Z1gKhwn2REXKykBGTnupPtHR08V6Sur9kAgW9DZdyUt0Go9fJshGPBmNm0uAUjtzkshhI0UrIz2cnn%2bArspPeaYOOY3YEdrV7VKlEWh6Mj3yjQFZwj4TbQ75WECrM9Gw4p%2b7uWaL4wc92gjDiP7G1P2cM4vBTVAHP1nTQ%2bShD4OoT5r6hZA2igo85St3ftgfvfJ7eOLin%2bdixRJdwA%3d%3d",
     "au,com,grandtourer)/aspx/login.aspx?4=h6vklmshqnbpvsscb7x7iu2/luokwckr5nsukefi3ygag1wtqor9vtiwv+anh9su4shtqmrrjy53dhqpxif+vjqkb+tajvfhn/sn1oqgaxly4i1ciwbi6jbk+i0fqqn44wt18szrgn95ygnruk9baymdquzchh7i/pak180zcfccrud+lqmmukvlvg0qoq6kvbos8dqo3mh5unwoclxiid2+mbma2rfp/015+o5+dnrq/umof3aettvsy7i/bcmgkbn/6wqknr04kfi4ppwjig2vcw4av8hj2fqbo+3jutdryfgyulizuqjebrh0lmah9sgkrpomwa0hgzmvf1ahoyqbvnbwujeekckxrydnd+dtxyozqlpygn/gcedbkoubmmmldsl+stl4qzomxngk3xnxiw+/csq/pwyimcbtdl/fxvnj6j4l3m5v66mjhxmyzk/wfp7spfzeghl+x4ih9dzzl8nqr/+ma7e6jhmyx4/dwkresqh3mzmiqddmdp6cjtnxapulfamv/tdy1vgjdl4pbiasartibf4nnxlglpvcy+cm3j83nybyytxbrx9+x1vcvnvpo8sipspuyp8xi0glnsmaw/u+owll28euzdlvanmz2j0rcdhtqkyejfhn/rm4z1gkhwn2rexkykbgtnuppthr08v6sur9kagw9dzdyut0go9fjshgpbmnm0uaujtzkshhi0uriz2cnn+arsppeayooy3yedrv7vklewh6mj3yjqfzwj4tbq75wecrm9gw4p+7uwal4wc92gjdip7g1p2cm4vbtvahp1ntq+shd4oot5r6hza2igo85st3ftgfvfj7eolin+dixrjdwa=="),
    # --- filedesc passthrough (case preserved) ---
    ("filedesc://IM_NLI_fb-20160209153640-00005-ext.arc",
     "filedesc://IM_NLI_fb-20160209153640-00005-ext.arc"),
    # --- exclude-list canonicalization (test_excludes.py) ---
    ("http://www.sueddeutsche.de", "de,sueddeutsche)/"),
    ("http://art.rolo.vn/a/", "vn,rolo,art)/a"),
]


@pytest.mark.parametrize("url,expected", FIXTURE_PAIRS,
                         ids=[u[:60] for u, _ in FIXTURE_PAIRS])
def test_surt_fixture_pairs(url, expected):
    assert surt_key(url) == expected


FALLBACK_URLS = [
    # surt raises on a non-numeric port; field N falls back to the raw URL
    "http://JavaScript:Wtop('www.pick2hand.com/index2.html')",
    "http://mhtml:d.hatena.ne.jp/images/top/greenpower_logo.gif",
]


@pytest.mark.parametrize("url", FALLBACK_URLS)
def test_fallback_urls(url):
    with pytest.raises(UrlParseError):
        surt_key(url)
    assert massaged_url(url) == url


def test_screenshot_urlkey():
    # tests/test_screenshot.py:86-88 — urlkey('http://example.com/')
    assert surt_key("http://example.com/") == "com,example)/"


def test_no_host_massage():
    assert surt_key("http://www.afp.com:80/x", host_massage=False) == \
        "com,afp,www)/x"


def test_safe_url():
    # cdx_writer.py:175-197
    assert safe_url("<http://example.com/x>") == "http://example.com/x"
    assert safe_url("http://e.com/a\rb") == "http://e.com/ab"
    assert safe_url("http://e.com/a b") == "http://e.com/a%20b"
    assert safe_url("http://e.com/a\x0cb") == "http://e.com/a%0Cb"
    assert safe_url("http://e.com/a\x08b\nc") == "http://e.com/a%08b%0Ac"


def test_safe_url_column_reads_its_argument(spark):
    """The native safe_url must transform the Column it is given, not
    a column that happens to be named ``url``."""
    from cdx_writer_spark.fields import safe_url_column

    urls = ["<http://example.com/x>", "http://e.com/a\rb",
            "http://e.com/a b", "http://e.com/a\nb", "http://e.com/a\x0cb",
            "http://e.com/a\x08b", "<http://e.com/a b\r\n>", "<>", "<", ""]
    df = spark.createDataFrame([(u, "decoy") for u in urls],
                               "link string, url string")
    got = [r[0] for r in df.select(safe_url_column(df["link"])).collect()]
    assert got == [safe_url(u) for u in urls]


def test_session_id_stripping():
    # public IA canonicalizer behavior (32-hex session tokens)
    sid = "0123456789abcdefghij0123456789ab"
    assert surt_key(f"http://e.com/x?a=1&jsessionid={sid}&b=2") == \
        "com,e)/x?a=1&b=2"
    assert surt_key(f"http://e.com/x;jsessionid={sid}") == "com,e)/x"
    # 'sid=1278' is NOT a session token (uncompressed.warc fixture keeps it)
    assert surt_key("http://e.com/x?sid=1278") == "com,e)/x?sid=1278"


def test_surt_host():
    assert surt_host("http://www.Example.COM:8080/x") == "www.example.com"
    assert surt_host("ftp://ftp.gnome.org/f") == "ftp.gnome.org"
    assert surt_host("not a url ::") is None


def test_empty_url():
    assert surt_key("") == "-"
